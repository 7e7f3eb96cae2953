package graft.sources

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Transactional versioned parquet snapshots with an atomic manifest
  * commit — the minimal lakehouse transaction layer (the shape of a Delta
  * log) over plain parquet directories. (Analogue of the reference's one
  * deep idea — STM atomicity over shared containers,
  * hive-task src/primitives.lisp:144–322: every multi-step container
  * mutation is observed fully or not at all — re-expressed for a
  * distributed file layout.)
  *
  * Layout under `table/`:
  * {{{
  *   data/<uuid>/  (parquet)     immutable snapshot bodies, one
  *                               WRITER-UNIQUE dir per commit attempt
  *     _stats/   (parquet)       per-file zone maps + Bloom filters
  *                               (data skipping; written pre-publish)
  *     _changes/ (parquet)       the change batch a merge committed
  *                               (write-time CDC feed; merge paths only)
  *   _manifests/v<%08d n>.json   the COMMIT RECORD — a version exists iff
  *                               its manifest file exists; its body names
  *                               the data dir(s) the version points at
  *                               (`;`-joined for [[append]]ed versions —
  *                               an INSERT reuses the base dirs and adds
  *                               ONE new dir, so appending is O(new
  *                               data), never a table rewrite) and the
  *                               op/writer/batch provenance
  *   _skipping.json              data-skipping policy (mutable config)
  *   _constraints/g<NNNNNNNN>.json CHECK constraints (immutable
  *                               generations, newest wins — updates CAS
  *                               through put-if-absent; a legacy mutable
  *                               _constraints.json is read when no
  *                               generation exists)
  *   _manifests/del-<uuid>.json  deferred-delete state ([[deleteWhereLazy]])
  *   _manifests/schema-<uuid>.json schema-evolution chain
  *                               ([[addColumn]]/[[renameColumn]]/
  *                               [[dropColumn]] — O(metadata) ALTERs;
  *                               readers map each dir to the logical
  *                               schema, copy-on-write materializes)
  * }}}
  * Every JSON file above is read and written only through [[MetaCodec]],
  * the single owner of the metadata formats: one typed record per format,
  * parsed once per read (a manifest is opened once per version lookup).
  *
  * Underscore-prefixed paths are invisible to Spark's parquet file index,
  * so sidecars never leak into snapshot reads; everything under the uuid
  * dir becomes visible atomically with the manifest create.
  *
  * Commit protocol (optimistic, lock-free):
  *  1. next = latest committed version + 1;
  *  2. write the snapshot to `data/<fresh uuid>/` — the dir name is
  *     writer-unique, so NO commit attempt can ever touch another
  *     attempt's files (a shared `data/v=next` dir would let the LOSING
  *     racer clobber the winner's already-committed bytes before its own
  *     publish fails). A crash here leaves an orphan dir no reader will
  *     ever see (no manifest names it) — garbage, reclaimable by listing
  *     dirs not referenced from any manifest;
  *  3. publish by creating `_manifests/v<next>.json` (body: the data-dir
  *     name) with create(overwrite = false) — HDFS's atomic
  *     put-if-absent. Two racing writers picked the same `next`; exactly
  *     one create succeeds, and the loser — whose data sits in its own
  *     orphaned dir — gets [[CommitConflictException]] and retries from
  *     step 1. Version DISCOVERY needs only the manifest file's NAME;
  *     only `readVersion` reads the body. A slot whose manifest a
  *     compaction RETIRED (folded into a checkpoint) is never free:
  *     publish refuses targets at or below the folded horizon and
  *     verifies the claim against the newest checkpoint, so a writer
  *     that straddles a compaction (base read → slow snapshot write →
  *     publish) conflicts and retries instead of silently committing
  *     into history (a lost update the 8-writer hammer caught).
  *
  * Readers resolve versions from the manifest listing alone — a
  * kilobyte-scale metadata op no matter how many terabytes the snapshots
  * hold. Snapshot bodies are immutable once committed and no writer can
  * ever address a committed dir again, so `readVersion` is reproducible
  * forever (time travel) and concurrent readers never see a partial
  * overwrite — the isolation property Overwrite-in-place lacks.
  *
  * Object-store caveat: the protocol's atomicity is HDFS
  * create-no-overwrite. S3 needs a DynamoDB-style put-if-absent shim
  * (exactly Delta's S3 LogStore); out of scope in a zero-egress build.
  */
object VersionedTable {

  /** Thrown when a racing writer committed `version` first — retry the
    * whole commit (re-read latest, recompute, re-publish).
    */
  final class CommitConflictException(val version: Long, cause: Throwable)
    extends RuntimeException(
      s"version $version was committed concurrently — retry", cause)

  private def fs(spark: SparkSession, table: String): (FileSystem, Path) = {
    val p = new Path(table)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  import MetaCodec.{CheckpointEntry, Manifest, checkpointIds,
    checkpointOf, checkpointPath, manifestOf, manifestPath}

  /** Version `v`'s commit record; throws when it was never committed. */
  private def commitOf(hfs: FileSystem, root: Path, table: String,
      v: Long): Manifest =
    manifestOf(hfs, root, v).getOrElse(throw new IllegalArgumentException(
      s"version $v of $table was never committed"))

  /** Committed versions, ascending — the manifest listing, plus versions
    * folded into the newest checkpoint (whose per-version manifests
    * [[compactManifests]] may have retired).
    */
  def versions(spark: SparkSession, table: String): Seq[Long] = {
    val (hfs, root) = fs(spark, table)
    val mDir = new Path(root, "_manifests")
    if (!hfs.exists(mDir)) Seq.empty
    else {
      val listed = hfs.listStatus(mDir).iterator
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
          n.stripPrefix("v").stripSuffix(".json").toLong
        }.toSet
      (listed ++ checkpointOf(hfs, root).keySet).toSeq.sorted
    }
  }

  def latestVersion(spark: SparkSession, table: String): Option[Long] =
    versions(spark, table).lastOption

  /** The latest committed version; throws for a table that has none. */
  private def latestOrFail(spark: SparkSession, table: String): Long =
    latestVersion(spark, table).getOrElse(
      throw new IllegalArgumentException(s"$table has no committed versions"))

  /** Commit `df` as the table's next full snapshot; returns the new
    * version. Atomic: the snapshot is invisible until the manifest
    * create succeeds; a concurrent commit of the same version throws
    * [[CommitConflictException]], changes nothing visible, and — because
    * the loser wrote only its own uuid dir — cannot disturb the winning
    * snapshot's bytes.
    */
  def commit(spark: SparkSession, df: DataFrame, table: String,
      maxRecordsPerFile: Long = 5000000L,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      bloomBitsPerRow: Int = 10,
      op: String = "commit"): Long =
    commitPinned(spark, df, table, latestVersion(spark, table).getOrElse(0L),
      op, maxRecordsPerFile, statsCols, bloomCols, bloomBitsPerRow)

  /** The pinned-base commit tail every derived-snapshot writer shares
    * (copy-on-write DML, [[optimize]], [[restore]], the rollup refresh):
    * [[writeSnapshot]] + publish at EXACTLY `base` + 1. A commit landing
    * between the caller's base read and this publish raises
    * [[CommitConflictException]] instead of being silently clobbered by
    * a snapshot derived from stale data. [[commit]] pins the latest
    * version it sees before writing, which is only safe because its df
    * does NOT derive from a previously-read version.
    */
  private def commitPinned(spark: SparkSession, df: DataFrame, table: String,
      base: Long, op: String,
      maxRecordsPerFile: Long = 5000000L,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomBitsPerRow: Int = 10,
      batchId: Option[Long] = None): Long = {
    val dirName = writeSnapshot(spark, df, table, maxRecordsPerFile,
      statsCols, bloomCols, bloomBitsPerRow)
    publish(spark, table, base + 1L, dirName, batchId, op = op)
    base + 1L
  }

  /** Sidecar step of [[writeSnapshot]]: explicit columns win; otherwise
    * the table's persistent [[setSkippingPolicy]] applies (leniently —
    * policy columns absent from THIS snapshot's schema are skipped, so
    * schema evolution never breaks a merge).
    */
  private def applySkipping(spark: SparkSession, table: String,
      dirName: String, statsCols: Seq[String], bloomCols: Seq[String],
      bloomBitsPerRow: Int): Unit = {
    val dataDir = new Path(new Path(table), dirName)
    if (statsCols.nonEmpty || bloomCols.nonEmpty)
      writeStatsSidecar(spark, dataDir, statsCols, bloomCols, bloomBitsPerRow)
    else skippingPolicy(spark, table) match {
      case Some(MetaCodec.SkippingPolicy(pStats, pBloom, pBits)) =>
        val have = footerSchema(spark, dataDir).fieldNames.toSet
        val (s2, b2) = (pStats.filter(have), pBloom.filter(have))
        if (s2.nonEmpty || b2.nonEmpty)
          writeStatsSidecar(spark, dataDir, s2, b2, pBits)
      case None => ()
    }
  }

  /** [[commit]] with the snapshot range-clustered on `clusterCols` first
    * ([[clusteredLayout]]), so each data file covers a narrow slice of
    * the cluster-key space — the layout that makes the zone-map sidecar
    * actually prune (an unclustered write interleaves the key range
    * across every file and no [min,max] test can exclude any). Stats
    * default to the cluster columns. This is the simplified Z-order
    * story: one-dimensional clustering at commit, [[Sinks.zorderedParquet]]
    * when two dimensions must both prune.
    */
  def commitClustered(spark: SparkSession, df: DataFrame, table: String,
      clusterCols: Seq[String], numFiles: Int = 0,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      maxRecordsPerFile: Long = 5000000L,
      op: String = "commit"): Long = {
    require(clusterCols.nonEmpty, "commitClustered needs cluster columns")
    import org.apache.spark.sql.functions.col
    commit(spark, clusteredLayout(df, numFiles, clusterCols.map(col)), table,
      maxRecordsPerFile,
      statsCols = if (statsCols.nonEmpty) statsCols else clusterCols,
      bloomCols = bloomCols, op = op)
  }

  /** [[commit]] with the snapshot Morton-ordered on TWO dimensions
    * ([[graft.api.Graft.zorderKey]] bit interleave), so each file covers a
    * compact rectangle of the (dimA, dimB) plane and the zone-map sidecar
    * prunes range predicates on EITHER dimension — the property
    * one-dimensional [[commitClustered]] cannot give its second column
    * (a lexicographic sort serves only its leading key). Stats default to
    * both dims. Dims must be non-negative integrals (cast dates via
    * `datediff` first — the interleave is bitwise on longs).
    */
  def commitZordered(spark: SparkSession, df: DataFrame, table: String,
      dimA: String, dimB: String, numFiles: Int = 8,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      maxRecordsPerFile: Long = 5000000L): Long =
    commit(spark, clusteredLayout(df, numFiles, mortonKey(dimA, dimB)), table,
      maxRecordsPerFile,
      statsCols = if (statsCols.nonEmpty) statsCols else Seq(dimA, dimB),
      bloomCols = bloomCols)

  /** The range layout of [[commitClustered]], [[commitZordered]] and a
    * clustering [[optimize]]: `df` range-partitioned into `n` partitions
    * on `key` and sorted within each partition on the same key. `n` <= 0
    * leaves the partition count to the session (AQE may coalesce it).
    */
  private def clusteredLayout(df: DataFrame, n: Int,
      key: Seq[Column]): DataFrame =
    (if (n > 0) df.repartitionByRange(n, key: _*)
     else df.repartitionByRange(key: _*)).sortWithinPartitions(key: _*)

  /** The Morton key of two non-negative integral columns, the
    * [[clusteredLayout]] key of a z-order write. */
  private def mortonKey(dimA: String, dimB: String): Seq[Column] = {
    import org.apache.spark.sql.functions.col
    Seq(graft.api.Graft.zorderKey(col(dimA).cast("long"),
      col(dimB).cast("long")))
  }

  /** Step 2 of the commit protocol, the one write tail of every verb
    * that writes a data dir: write `df` to a fresh writer-unique dir,
    * then gate it on the CHECK constraints (a violating snapshot never
    * becomes a version — its dir is an orphan, vacuum-reclaimable) and
    * write its zone-map sidecar BEFORE any publish (the stats become
    * visible in the same atomic step as the data they describe; merges
    * inherit the skipping policy too, so a drip-merged table never loses
    * its index on the first CDC batch).
    * Returns the dir's relative name for the publish step.
    */
  private def writeSnapshot(spark: SparkSession, df: DataFrame,
      table: String, maxRecordsPerFile: Long,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomBitsPerRow: Int = 10): String = {
    val (_, root) = fs(spark, table)
    val dirName = s"data/${UUID.randomUUID}"
    // ErrorIfExists: the uuid dir is fresh by construction — Overwrite
    // would mask a (cosmically unlikely) collision instead of failing it
    df.write.mode(SaveMode.ErrorIfExists)
      .option("compression", "zstd")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(new Path(root, dirName).toString)
    validateConstraints(spark, table, dirName)
    applySkipping(spark, table, dirName, statsCols, bloomCols, bloomBitsPerRow)
    dirName
  }

  /** The put-if-absent publish step of [[commit]]: create the version's
    * manifest (body names `dataDirName`) with overwrite = false — atomic
    * on HDFS. Throws [[CommitConflictException]] only when a racing
    * writer's manifest for the SAME version actually landed (the window
    * between version selection and publish); any other create failure
    * (permissions, quota, network) propagates as itself — misreporting
    * those as "retry" would loop a doomed writer forever. Package-visible
    * so the conflict path is testable without a real race.
    */
  private[graft] def publish(spark: SparkSession, table: String,
      version: Long, dataDirName: String,
      batchId: Option[Long] = None,
      op: String = "commit",
      mergeKey: Option[String] = None,
      delRef: Option[String] = None,
      schemaRef: Option[String] = None): Unit = {
    val (hfs, root) = fs(spark, table)
    val manifest = manifestPath(root, version)
    hfs.mkdirs(manifest.getParent)
    // "batch": the writing stream's epoch id — the idempotence token
    // [[mergeBatchIfNew]] reads back to skip an already-applied replay;
    // "op": which verb committed the version, for the history audit;
    // "key": the merge key a merge commit identified rows by — the fact
    // [[refreshRollup]] needs to recover each change row's PRE-image
    // (which stored row the change replaced) from the v-1 snapshot;
    // "del": the del-state sidecar this version's deferred deletes live
    // in ([[deleteWhereLazy]]) — written complete BEFORE this publish,
    // so a version is never visible without its delete filters;
    // "schema": the evolution-chain sidecar active at this version
    // ([[addColumn]]/[[renameColumn]]/[[dropColumn]]) — like "del",
    // written complete BEFORE this publish and propagated by the
    // dir-reusing verbs (append/clone), dropped by materializing ones;
    // "ts": the writer's commit wall-clock (epoch ms) — what TIMESTAMP
    // AS OF time travel resolves against; clock skew between writers can
    // reorder it vs the version sequence, so [[readAsOf]] resolves
    // order-safely (see there)
    val body = MetaCodec.encodeManifest(Manifest(version, Some(dataDirName),
      ts = Some(System.currentTimeMillis()), batch = batchId, key = mergeKey,
      del = delRef, schema = schemaRef, op = Some(op),
      writer = Some(UUID.randomUUID.toString)))
    // Two-phase atomic publish (the Delta LogStore recipe, one impl per
    // store class): write the FULL body to a writer-unique temp, then
    // promote it to the manifest name with an ATOMIC PUT-IF-ABSENT, so
    // (a) two racers get exactly one winner, and (b) a concurrent reader
    // can NEVER open a manifest whose body is empty or partial. The
    // previous create-then-write exposed exactly that window — the
    // 8-writer hammer caught a reader seeing a zero-byte manifest
    // between a racer's create and close, misresolving the data dir.
    //
    // The promote primitive is store-specific:
    //  - local FS: hard link (link(2) fails with EEXIST atomically in
    //    the kernel). Hadoop's FileContext.rename(Rename.NONE) is only
    //    CHECK-then-rename here — the hammer caught two racers both
    //    passing the check and one manifest silently vanishing;
    //  - HDFS: FileContext.rename(Rename.NONE), atomic under the
    //    namenode's namespace lock;
    //  - S3-class stores need an external put-if-absent (Delta's
    //    DynamoDB LogStore) — out of scope in a zero-egress build.
    // Folded-horizon guard (the 8-writer hammer caught this as a LOST
    // UPDATE): a writer that read its base, then spent seconds writing
    // its snapshot, can publish AFTER a manifest compaction retired its
    // target's manifest file — the put-if-absent then "wins" a RETIRED
    // slot (the file is gone; the version lives on in the checkpoint)
    // and the commit becomes invisible history: the surviving chain
    // derives from the slot's ORIGINAL owner, silently dropping this
    // writer's rows. A retired slot is NEVER free: refuse any target at
    // or below the newest checkpoint's folded horizon (legit targets are
    // always latest+1 > every folded key, so no false conflicts; expiry
    // leaves kept keys ≥ its horizon, so recycled EXPIRED slots are
    // caught by the same compare).
    def foldedConflict(detail: String) = new CommitConflictException(version,
      new java.nio.file.FileAlreadyExistsException(
        s"$manifest: $detail — the slot was retired by manifest " +
          "compaction/expiry, not free; re-read latest and retry"))
    // one listing + at most one body read pre-claim; the post-claim
    // verify re-LISTS (cheap) but re-reads a checkpoint body only when
    // the newest id actually moved during the claim — on a never- or
    // not-recently-compacted table the hot path pays zero extra body
    // reads (checkpoint bodies are immutable: same id ⇒ same map).
    //
    // The listing RETRIES on FileNotFoundException instead of degrading:
    // RawLocalFileSystem stats every dirent, so a checkpoint or manifest
    // deleted by a concurrent compaction MID-LISTING surfaces as FNFE —
    // transient churn, not "no checkpoint". Mapping it to None silently
    // DISARMED the folded-horizon guard (horizon 0), and a stale pinned
    // publish could then claim a retired slot whose manifest compaction
    // had removed — a SECOND winner on an already-won version, rewriting
    // history (the repro caught exactly this: two writers both
    // "publishing" one slot, the second one's commit invisible to every
    // later reader — a lost update). Retrying until a clean listing is
    // always safe (the churn window is microseconds) and a persistent
    // failure must fail LOUD, never quietly weaken the guard.
    def listCheckpointId(): Option[Long] = {
      var attempt = 0
      while (true) {
        try return checkpointIds(hfs, root).lastOption
        catch {
          case e: java.io.FileNotFoundException =>
            attempt += 1
            if (attempt >= 50) throw e
            Thread.sleep(2L)
        }
      }
      None // unreachable
    }
    val preId = listCheckpointId()
    def mapOf(id: Option[Long]): Map[Long, CheckpointEntry] = id match {
      case None => Map.empty
      case Some(i) =>
        var attempt = 0
        while (true) {
          (try Some(MetaCodec.checkpointAt(hfs, root, i))
          catch { case _: java.io.FileNotFoundException => None }) match {
            case Some(m) if m.nonEmpty => return m
            case None => return checkpointOf(hfs, root) // retired: re-resolve
            case Some(_) =>
              // an EMPTY checkpoint body is never legitimate (compaction
              // folds ≥1 version, expiry keeps ≥1): it is a half-written
              // legacy checkpoint or corruption — retry through the
              // window, then fail LOUD; returning an empty map would
              // read as horizon 0 and disarm the recycled-slot guard
              attempt += 1
              if (attempt >= 50) throw new IllegalStateException(
                s"checkpoint ${checkpointPath(root, i)} parses to an " +
                  "empty version map — corrupt or half-written; refusing " +
                  "to publish with a disarmed folded-horizon guard")
              Thread.sleep(2L)
          }
        }
        Map.empty // unreachable
    }
    val preMap = mapOf(preId)
    val horizon = preMap.keysIterator.maxOption.getOrElse(0L)
    if (version <= horizon)
      throw foldedConflict(s"version $version <= folded horizon $horizon")
    val tmp = new Path(root, s"_manifests/.tmp-${UUID.randomUUID}")
    if (!putIfAbsentFile(spark, hfs, tmp, manifest,
        body.getBytes(StandardCharsets.UTF_8)))
      throw new CommitConflictException(version,
        new java.nio.file.FileAlreadyExistsException(manifest.toString))
    // post-claim verify: a compaction can fold-and-retire the slot in
    // the window between the horizon read above and the link — if the
    // newest checkpoint now binds this version to ANOTHER dir, the claim
    // recycled a just-retired slot: undo it (no reader depends on a
    // binding the checkpoint contradicts) and conflict. A checkpoint
    // binding to OUR dir is the benign fast-fold of a legitimate claim.
    // Same retry-not-degrade rule: falling back to preId here would skip
    // the body re-read and miss the fold that just happened.
    val postId = listCheckpointId()
    val after = if (postId == preId) preMap else mapOf(postId)
    if (after.get(version).exists(_.dir != dataDirName)) {
      hfs.delete(manifest, false)
      throw foldedConflict(
        s"version $version was checkpoint-folded during the claim")
    }
  }

  /** The two-phase put-if-absent primitive [[publish]] documents: write
    * the FULL `body` to the writer-unique `tmp`, then promote it to
    * `target` atomically. Returns true when THIS writer created the
    * target, false when the slot was already occupied (the temp is
    * cleaned up either way — losers leave nothing behind). Genuine
    * store failures (permissions, quota — target still absent) rethrow.
    */
  private def putIfAbsentFile(spark: SparkSession, hfs: FileSystem,
      tmp: Path, target: Path, body: Array[Byte]): Boolean = {
    val out = hfs.create(tmp, /* overwrite = */ false)
    try out.write(body) finally out.close()
    val scheme = target.toUri.getScheme
    if (scheme == null || scheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        hfs.delete(tmp, false) // target holds the remaining link
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          hfs.delete(tmp, false)
          false
      }
    } else {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        target.toUri, spark.sparkContext.hadoopConfiguration)
      try {
        fc.rename(tmp, target, org.apache.hadoop.fs.Options.Rename.NONE)
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          hfs.delete(tmp, false)
          false
        case e: java.io.IOException =>
          // occupied iff the target is actually there — some FS impls
          // report the occupied slot as a bare IOException; an exists()
          // probe classifies both
          if (hfs.exists(target)) {
            hfs.delete(tmp, false)
            false
          } else throw e
      }
    }
  }

  /** Time-travel read: snapshot `version` exactly as committed — the data
    * dir is resolved from the manifest body (or the checkpoint that
    * folded it). Throws if the version was never COMMITTED — data files
    * without a manifest (a crashed writer) do not exist as far as
    * readers are concerned.
    */
  def readVersion(spark: SparkSession, table: String, version: Long): DataFrame = {
    val (hfs, root) = fs(spark, table)
    snapshotOf(spark, hfs, root, commitOf(hfs, root, table, version))
  }

  /** The snapshot commit record `m` names, read through its deferred
    * deletes and schema chain.
    */
  private def snapshotOf(spark: SparkSession, hfs: FileSystem, root: Path,
      m: Manifest): DataFrame = {
    // appended versions name several dirs (`;`-joined); all dirs of one
    // version share an identical schema (append enforces it), so the
    // multi-path read needs no schema merging. File-granular CoW versions
    // additionally name kept FILES of partially-rewritten dirs — grouped
    // back under their dir scope here, so per-dir metadata binds once and
    // one dir's kept files read as ONE multi-path scan, not one per file.
    val groups = groupTokensByScope(splitDirs(m.dataDir))
    // deferred deletes ([[deleteWhereLazy]]): each dir takes the keep
    // filter of the predicates scoped to it — a codegen'd filter pushed
    // into the scans, so the merge-on-read price is predicate evaluation,
    // never an extra pass. Dirs one version shares have one column order
    // (the append contract), so the positional union is sound.
    val preds = delStateOf(hfs, root, m)
    // schema evolution ([[addColumn]]/[[renameColumn]]/[[dropColumn]]):
    // the chain applies PER DIR, leniently — dirs written after an op
    // already have the target shape and pass through. Filter-then-map
    // order is sound even when a chain and deferred predicates COEXIST
    // (they compose since r14): each keep filter binds to its dir's RAW
    // frame before the chain suffix maps it, and a predicate's scoped
    // dirs all predate the delete — which predates every op added after
    // it, because NEW deferred deletes are still refused while a chain
    // is active ([[deleteWhereLazy]]'s guard), so recorded predicates
    // always bind to their dirs' physical column names.
    val chain = schemaStateOf(hfs, root, m)
    if (preds.isEmpty && chain.isEmpty)
      parquetOf(spark, groups.flatMap { case (scope, toks) =>
        groupReadPaths(hfs, root, scope, toks) }: _*)
    else {
      val mapped = groups.map { case (scope, toks) =>
        val df = parquetOf(spark, groupReadPaths(hfs, root, scope, toks): _*)
        val kept = delKeepFilter(preds, scope).map(df.where).getOrElse(df)
        if (chain.isEmpty) kept
        else applySchemaChain(kept,
          // a dir ABSENT from the position map was appended at the
          // chain's current tip (appends share the base's sidecar by
          // name and record nothing) — it replays NO ops; every dir
          // that predates at least one op got an explicit entry from
          // the ALTER that added that op. Legacy (fmt 1) sidecars
          // default to 0 instead — see [[SchemaChain.posOf]]
          chain.ops.drop(chain.posOf(scope)))
      }
      // dirs of different vintages can disagree on column ORDER once a
      // mapping is active (an added column sits wherever each dir's
      // writer put it) — union by NAME, not position
      if (chain.isEmpty) mapped.reduce(_ union _)
      else mapped.reduce(_ unionByName _)
    }
  }

  /** Group a version's dir-list tokens by their [[dirScopeOf]] scope, in
    * first-occurrence order: one entry per dir, carrying either the
    * whole-dir token or every kept-file token of that dir (the two never
    * co-occur for one dir — a file-granular rewrite replaces the dir
    * token with its kept files).
    */
  private def groupTokensByScope(
      tokens: Seq[String]): Seq[(String, Seq[String])] = {
    val order = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.Builder[String, Seq[String]]]
    tokens.foreach { t =>
      order.getOrElseUpdate(dirScopeOf(t), Seq.newBuilder[String]) += t
    }
    order.iterator.map { case (s, b) => (s, b.result()) }.toSeq
  }

  /** TIMESTAMP AS OF time travel: the table as of wall-clock `tsMillis`
    * — the newest version whose commit time is at or before it. Commit
    * times come from the `ts` field [[publish]] records (manifest file
    * mtime for pre-field builds; checkpoint-folded manifests count as
    * oldest). Writer clock skew can make raw stamps non-monotone along
    * the version chain, so stamps are MONOTONICIZED first (running max
    * in version order, the Delta convention): the answer is always a
    * clean prefix of history — a skewed-early stamp can make a version
    * visible sooner, never resurrect an older snapshot over a newer
    * one. Statement spelling: `SELECT ... FROM '<path>' TIMESTAMP AS OF
    * '<ts>'`. Throws when the timestamp predates every commit.
    */
  def readAsOf(spark: SparkSession, table: String,
      tsMillis: Long): DataFrame =
    readVersion(spark, table, versionAsOf(spark, table, tsMillis))

  private[graft] def versionAsOf(spark: SparkSession, table: String,
      tsMillis: Long): Long = {
    val (hfs, root) = fs(spark, table)
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"$table has no committed versions")
    lazy val cp = checkpointOf(hfs, root)
    // folded = among the oldest kept; a ts-less (pre-field) manifest
    // falls back to its file mtime
    def stampOf(v: Long): Long =
      manifestOf(hfs, root, v, cp).flatMap(_.ts).getOrElse {
        try hfs.getFileStatus(manifestPath(root, v)).getModificationTime
        catch { case _: java.io.FileNotFoundException => 0L }
      }
    val monotone = vs.map(stampOf).scanLeft(0L)(math.max).drop(1)
    vs.zip(monotone).takeWhile(_._2 <= tsMillis).lastOption match {
      case Some((v, _)) => v
      case None => throw new IllegalArgumentException(
        s"no version of $table existed at or before timestamp $tsMillis " +
          s"(earliest commit: ${monotone.headOption.getOrElse(0L)})")
    }
  }

  // -------------------------------------------- merge-on-read del state

  /** One deferred-delete predicate: SQL text (re-parsed at read time)
    * scoped to the data dirs that existed when the delete committed —
    * later-appended dirs are out of scope, so a lazy delete never touches
    * rows inserted after it (exactly what a CoW delete at the same point
    * would have removed, no more).
    */
  private[graft] final case class DelPred(pred: String, dirs: Set[String])

  /** The accumulated deferred-delete predicates active at commit `m`. */
  private def delStateOf(hfs: FileSystem, root: Path,
      m: Manifest): Seq[DelPred] =
    m.del.map(ref => MetaCodec.decodeDel(
      MetaCodec.readBody(hfs, new Path(root, s"_manifests/$ref"))))
      .getOrElse(Nil)

  /** Persist a del-state sidecar (immutable, writer-unique name) under
    * `_manifests/`; returns the name manifests reference it by. Several
    * manifests may share one sidecar ([[appendFrom]] propagates the
    * base's by name); a sidecar orphaned by a failed publish is inert
    * kilobytes. The name matches neither the `v<NNNNNNNN>.json` version
    * pattern nor vacuum's `.tmp-` reclaim prefix, so version discovery
    * and temp cleanup both ignore it.
    */
  private def writeDelSidecar(spark: SparkSession, table: String,
      state: Seq[DelPred]): String = {
    val (hfs, root) = fs(spark, table)
    val name = s"del-${UUID.randomUUID}.json"
    MetaCodec.createNew(hfs, new Path(root, s"_manifests/$name"),
      MetaCodec.encodeDel(state))
    name
  }

  /** The keep filter `preds` impose on rows of data dir `dirRel` (None =
    * none scope to it). SQL DELETE semantics per predicate: TRUE deletes,
    * NULL keeps — exactly [[deleteWhere]]'s contract.
    */
  private def delKeepFilter(preds: Seq[DelPred],
      dirRel: String): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val applicable = preds.filter(_.dirs.contains(dirRel))
    if (applicable.isEmpty) None
    else Some(applicable.map(p =>
      not(coalesce(expr(p.pred), lit(false)))).reduce(_ && _))
  }

  // ─────────────────────── schema evolution ───────────────────────────
  //
  // ALTER TABLE ADD/RENAME/DROP COLUMN as O(metadata) verbs: a schema
  // change publishes a new version that REUSES the base's data dirs (the
  // deferred-delete shape) and records the accumulated evolution chain in
  // an immutable sidecar the manifest references. Readers apply the chain
  // PER DIR, leniently (each dir is transformed by what IT is missing —
  // a dir written after the op already has the target shape and passes
  // through), so appended dirs of different vintages coexist under one
  // logical schema without rewriting a byte. Copy-on-write verbs
  // (UPDATE/DELETE/OPTIMIZE/RESTORE/merge) read the mapped snapshot and
  // write real parquet columns, which MATERIALIZES the mapping — their
  // versions carry no chain, exactly like deferred deletes.

  /** One schema-evolution step: `kind` ∈ add|rename|drop|widen. `name`
    * is the column the op targets (the NEW name for add, the OLD name
    * for rename); `to` = rename target; `tpe` = add's/widen's DDL type
    * string; `default` = add's SQL expression backfilling EXISTING rows
    * (absent = NULL).
    */
  private[graft] final case class SchemaOp(kind: String, name: String,
      to: String = "", tpe: String = "", default: Option[String] = None)

  /** The full evolution state at one version: the op chain plus each
    * dir's CHAIN POSITION — how many ops were already in force when the
    * dir joined the version's dir list. A dir only replays
    * `ops.drop(position)`: without the position, a dir appended
    * mid-chain would re-fire ops it was born AFTER (the 8-writer hammer
    * caught exactly this — a dir written under logical name pp1
    * spuriously replayed the earlier `add pp0`, growing an extra
    * column; a drop-then-re-add replay would even overwrite real stored
    * values with the re-add's default).
    *
    * A dir ABSENT from the map defaults to the chain TIP (replays
    * nothing): entries are written only by the ALTER verbs — each ALTER
    * pins every then-unpinned dir at the pre-op length — so appends
    * share the base's sidecar by name instead of rewriting an
    * ever-growing map per batch.
    *
    * `fmt` versions the sidecar's DEFAULT-POSITION semantics: fmt >= 2
    * (pinning writers) default absent dirs to the chain tip as above;
    * fmt 1 (legacy pre-pinning sidecars, which never wrote a pos map at
    * all) default to 0 — their readers replayed the FULL chain on every
    * dir, and flipping that default would silently read an old evolved
    * table un-evolved (a single-dir table with ADD COLUMN loses the
    * column without error). Marker-less sidecars are classified by the
    * exact on-disk difference: a pinning writer always pins the base
    * snapshot's dirs, so marker-less + empty pos map ⇒ legacy.
    */
  private[graft] final case class SchemaChain(ops: Seq[SchemaOp],
      pos: Map[String, Int], fmt: Int = 2) {
    def isEmpty: Boolean = ops.isEmpty
    def nonEmpty: Boolean = ops.nonEmpty
    /** The op-suffix start for dir `d` (see class doc for the default). */
    def posOf(d: String): Int =
      pos.getOrElse(d, if (fmt >= 2) ops.length else 0)
  }
  private val emptyChain = SchemaChain(Nil, Map.empty)

  /** The accumulated evolution chain active at commit `m` (empty for
    * unmapped versions — including every version after a copy-on-write
    * verb, which materializes the mapping into real parquet columns).
    * Sidecar body: `{"fmt":2,"ops":[...],"pos":{"<dir>":k,...}}`. Every
    * dir that must replay at least one op has an explicit entry (pinned
    * by the ALTER that added the op); absent dirs sit at the chain tip.
    */
  private def schemaStateOf(hfs: FileSystem, root: Path,
      m: Manifest): SchemaChain =
    m.schema.map(ref => MetaCodec.decodeSchema(
      MetaCodec.readBody(hfs, new Path(root, s"_manifests/$ref"))))
      .getOrElse(emptyChain)

  /** Persist an evolution-chain sidecar (immutable, writer-unique name,
    * the [[writeDelSidecar]] pattern: matches neither the version nor
    * the `.tmp-` reclaim pattern; orphans from failed publishes are
    * inert kilobytes).
    */
  private def writeSchemaSidecar(spark: SparkSession, table: String,
      chain: SchemaChain): String = {
    val (hfs, root) = fs(spark, table)
    // fmt: default-position semantics marker (see [[SchemaChain]]) —
    // preserved verbatim so cloning a legacy chain stays legacy
    val name = s"schema-${UUID.randomUUID}.json"
    MetaCodec.createNew(hfs, new Path(root, s"_manifests/$name"),
      MetaCodec.encodeSchema(chain))
    name
  }

  /** The data type at a dotted field `path` of `schema`, walking nested
    * StructTypes — None when any segment is absent or a non-struct is
    * traversed. Path segments are simple identifiers (the ALTER verbs
    * validate), so no quoting ambiguity exists.
    */
  private def nestedType(schema: org.apache.spark.sql.types.StructType,
      path: Seq[String]): Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types.StructType
    path.foldLeft(Option(schema: org.apache.spark.sql.types.DataType)) {
      (cur, seg) =>
        cur.flatMap {
          case s: StructType =>
            s.fields.find(_.name == seg).map(_.dataType)
          case _ => None
        }
    }
  }

  /** Apply one dir's op SUFFIX (the caller drops the ops the dir was
    * born after, by its recorded chain position — presence heuristics
    * alone cannot disambiguate a mid-chain dir from a pre-chain one).
    * The per-op presence guards stay as defense-in-depth: a correctly
    * positioned replay always finds the pre-op shape, so they are
    * no-ops on sound metadata and fail SOFT (skip, not corrupt) on
    * foreign or hand-edited sidecars.
    *
    * NESTED ops (r15): an op name with dots targets a field inside a
    * StructType column — replay maps the TOP-LEVEL column with
    * `withField`/`dropFields` on the inner path (`withField` replaces
    * in place when the field exists, appends at the struct tail when
    * absent; a nested RENAME therefore moves the field to the tail —
    * the one spot Spark has no order-preserving primitive for without a
    * struct rebuild that would break struct-level nullability). A NULL
    * struct row stays NULL through every nested op, exactly like the
    * underlying Column functions.
    */
  private def applySchemaChain(df: DataFrame,
      chain: Seq[SchemaOp]): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.DataType
    chain.foldLeft(df) { (cur, op) =>
      val path = op.name.split('.').toSeq
      val nested = path.length > 1
      def typeAt(p: Seq[String]) = nestedType(cur.schema, p)
      op.kind match {
        case "rename" if !nested =>
          if (cur.columns.contains(op.name) && !cur.columns.contains(op.to))
            cur.withColumnRenamed(op.name, op.to)
          else cur
        case "rename" =>
          val newPath = path.init :+ op.to
          if (typeAt(path).isDefined && typeAt(newPath).isEmpty)
            cur.withColumn(path.head, col(path.head)
              .withField(newPath.tail.mkString("."), col(op.name))
              .dropFields(path.tail.mkString(".")))
          else cur
        case "add" if !nested =>
          if (cur.columns.contains(op.name)) cur
          else cur.withColumn(op.name,
            expr(op.default.getOrElse("NULL"))
              .cast(DataType.fromDDL(op.tpe)))
        case "add" =>
          if (typeAt(path).isDefined || typeAt(path.init).isEmpty) cur
          else cur.withColumn(path.head, col(path.head)
            .withField(path.tail.mkString("."),
              expr(op.default.getOrElse("NULL"))
                .cast(DataType.fromDDL(op.tpe))))
        case "drop" if !nested =>
          if (cur.columns.contains(op.name)) cur.drop(op.name) else cur
        case "drop" =>
          if (typeAt(path).isEmpty) cur
          else cur.withColumn(path.head,
            col(path.head).dropFields(path.tail.mkString(".")))
        case "widen" =>
          val dt = DataType.fromDDL(op.tpe)
          // lossless up-cast in place (withColumn/withField preserve
          // position); a dir written post-op already stores the wide
          // type — the equality check is its pass-through
          if (!nested) {
            if (cur.columns.contains(op.name) &&
                cur.schema(op.name).dataType != dt)
              cur.withColumn(op.name, col(op.name).cast(dt))
            else cur
          } else {
            if (typeAt(path).exists(_ != dt))
              cur.withColumn(path.head, col(path.head)
                .withField(path.tail.mkString("."), col(op.name).cast(dt)))
            else cur
          }
      }
    }
  }

  /** Shared tail of the ALTER verbs: guard, extend the chain, and
    * publish at exactly base+1 reusing base's dirs (a racing commit
    * conflicts instead of having its schema silently remapped).
    *
    * Pending deferred deletes COMPOSE with evolution (r14): their
    * sidecar travels forward by name. Sound because [[readVersion]]
    * applies each dir's keep filter to the dir's RAW frame BEFORE the
    * chain suffix maps it, and a predicate's scoped dirs all predate
    * the delete — which predates every op added after it (deletes are
    * refused while a chain is ACTIVE, so recorded predicates always
    * bind to their dirs' physical names regardless of later renames/
    * drops/widens). The reverse direction keeps its refusal in
    * [[deleteWhereLazyFrom]]: a NEW predicate binds to logical names a
    * mapping would have to un-map per dir.
    */
  private def publishSchemaOp(spark: SparkSession, table: String,
      op: SchemaOp)(validate: DataFrame => Unit): Long = {
    val base = latestOrFail(spark, table)
    validate(readVersion(spark, table, base))
    val (hfs, root) = fs(spark, table)
    val baseM = commitOf(hfs, root, table, base)
    val dirs = baseM.dataDir
    val prior = schemaStateOf(hfs, root, baseM)
    // positions are recorded HERE, by the ALTER that makes them matter:
    // any base dir without an entry joined while the chain was at its
    // current length (pre-chain dirs when the chain is empty; otherwise
    // dirs appended since the previous ALTER, which shared the base's
    // sidecar and recorded nothing) — pin them at `prior.ops.length`
    // before the new op lands. Appends thus never write sidecars and
    // total sidecar bytes are O(#alters × #dirs), not O(#appends²).
    // a LEGACY (fmt 1) prior chain never pinned anything and its readers
    // replayed the full chain on every dir — extending it pins the
    // unpinned dirs at 0 (their legacy position), and the new sidecar is
    // fmt 2 with every dir explicit, upgrading the table in place
    val defaultPos = if (prior.fmt >= 2) prior.ops.length else 0
    val pinned = prior.pos ++ splitDirs(dirs).map(dirScopeOf).distinct
      .filterNot(prior.pos.contains).map(_ -> defaultPos)
    val ref = writeSchemaSidecar(spark, table,
      SchemaChain(prior.ops :+ op, pinned))
    publish(spark, table, base + 1L, dirs, op = "schema",
      schemaRef = Some(ref), delRef = baseM.del)
    base + 1L
  }

  /** Refuse renaming/dropping a column that table-level metadata still
    * references: a CHECK constraint would break every later commit's
    * validation, and a skipping-policy column would silently stop being
    * indexed. `colName` may be a dotted nested path (r15): a constraint
    * hits when it references the path itself, anything UNDER it, or —
    * for top-level names — any nested path rooted at the column; the
    * leaf-name match stays for unqualified references inside the
    * constraint text (`CHECK (os IS NOT NULL)` after the parser strips
    * no qualifier).
    */
  private def guardColumnUnreferenced(spark: SparkSession, table: String,
      colName: String, verb: String): Unit = {
    // resolve references STRUCTURALLY (parse the expression, collect its
    // attribute paths) — a word-boundary regex over the source text
    // false-positives on the name inside a string literal (CHECK
    // (status != 'tier') must not block renaming an unrelated `tier`)
    def refs(exprText: String): Set[String] =
      try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(exprText).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.mkString(".").toLowerCase(java.util.Locale.ROOT)
      }.toSet
      catch { case scala.util.control.NonFatal(_) =>
        // unparseable constraint text (foreign/hand-edited): fall back
        // to the conservative textual match rather than silently allow
        if (exprText.matches(
            s"(?s).*\\b${java.util.regex.Pattern.quote(colName)}\\b.*"))
          Set(colName.toLowerCase(java.util.Locale.ROOT))
        else Set.empty
      }
    val needle = colName.toLowerCase(java.util.Locale.ROOT)
    val leaf = needle.split('.').last
    def hits(ref: Set[String]): Boolean = ref.exists(r =>
      r == needle || r.startsWith(needle + ".") ||
        r.split('.').last == leaf)
    val hit = constraintsOf(spark, table).find(c => hits(refs(c._2)))
    require(hit.isEmpty,
      s"cannot $verb column $colName of $table: CHECK constraint " +
        s"'${hit.map(_._1).getOrElse("")}' references it — replace the " +
        "constraint first")
    val top = colName.split('.').head
    val inPolicy = skippingPolicy(spark, table).exists {
      case MetaCodec.SkippingPolicy(s, b, _) =>
        s.contains(colName) || b.contains(colName) ||
        // a nested op under a policy-indexed top-level column would
        // change the very values the sidecars summarize — refuse
        (colName != top && (s.contains(top) || b.contains(top)))
    }
    require(!inPolicy,
      s"cannot $verb column $colName of $table: the skipping policy " +
        "indexes it — SET SKIPPING without it first")
  }

  /** ALTER TABLE ADD COLUMN: O(metadata) — no data rewrite. Existing
    * rows read `default` (a deterministic SQL expression; absent =
    * NULL) cast to `ddlType`; rows written after the change store the
    * column physically. Statement spelling: `ALTER TABLE '<path>' ADD
    * COLUMN <name> <type> [DEFAULT <expr>]`.
    */
  /** Validate an ALTER target name: a simple identifier, or (r15) a
    * dotted NESTED path whose every segment is a simple identifier —
    * `props.device_os` targets field `device_os` inside struct column
    * `props`. Returns the segments.
    */
  private def alterPath(name: String): Seq[String] = {
    // limit -1: String.split drops TRAILING empty segments by default, so
    // "a." would silently validate as Seq("a") and target top-level `a`
    // instead of being rejected as malformed — keep empties so the
    // identifier check below refuses trailing/doubled dots
    val segs = name.split("\\.", -1).toSeq
    require(segs.nonEmpty && segs.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")),
      s"column name must be a (dot-separated) identifier path: $name")
    segs.foreach(s => require(!s.startsWith("__"),
      s"names with the __ prefix are reserved for CDC columns: $name"))
    segs
  }

  /** The struct type holding the leaf of nested path `segs` in `cur` —
    * validation seam of the nested ALTER verbs (the parent must exist
    * and be a struct before an op on its field means anything).
    */
  private def requireParentStruct(cur: DataFrame, segs: Seq[String],
      table: String): Unit = {
    val parent = segs.init
    require(nestedType(cur.schema, parent).exists(
      _.isInstanceOf[org.apache.spark.sql.types.StructType]),
      s"${parent.mkString(".")} of $table is not a struct column — " +
        "nested ALTERs target fields inside StructType columns")
  }

  def addColumn(spark: SparkSession, table: String, name: String,
      ddlType: String, default: Option[String] = None): Long = {
    val segs = alterPath(name)
    val dt = org.apache.spark.sql.types.DataType.fromDDL(ddlType)
    publishSchemaOp(spark, table,
        SchemaOp("add", name, tpe = ddlType, default = default)) { cur =>
      if (segs.length == 1)
        require(!cur.columns.contains(name),
          s"column $name already exists on $table")
      else {
        requireParentStruct(cur, segs, table)
        require(nestedType(cur.schema, segs).isEmpty,
          s"field $name already exists on $table")
      }
      default.foreach { d =>
        import org.apache.spark.sql.functions.expr
        val probe = spark.range(1).select(expr(d).cast(dt))
        require(
          probe.queryExecution.analyzed.expressions.forall(_.deterministic),
          s"DEFAULT must be deterministic (it re-evaluates at every " +
            s"read of the pre-evolution dirs): $d")
        probe.collect() // force evaluation errors out NOW, not at read
      }
    }
  }

  /** ALTER TABLE RENAME COLUMN: O(metadata) — the mapping renames at
    * read time until a copy-on-write verb materializes it. Refused
    * while a CHECK constraint or the skipping policy references the
    * old name. Statement spelling: `ALTER TABLE '<path>' RENAME COLUMN
    * <old> TO <new>`.
    */
  def renameColumn(spark: SparkSession, table: String, from: String,
      to: String): Long = {
    val segs = alterPath(from)
    require(to.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"rename target must be a simple (leaf) identifier: $to")
    require(!to.startsWith("__"),
      s"names with the __ prefix are reserved for CDC columns: $to")
    guardColumnUnreferenced(spark, table, from, "rename")
    publishSchemaOp(spark, table, SchemaOp("rename", from, to = to)) { cur =>
      if (segs.length == 1) {
        require(cur.columns.contains(from),
          s"no column $from on $table")
        require(!cur.columns.contains(to),
          s"column $to already exists on $table")
      } else {
        requireParentStruct(cur, segs, table)
        require(nestedType(cur.schema, segs).isDefined,
          s"no field $from on $table")
        require(nestedType(cur.schema, segs.init :+ to).isEmpty,
          s"field ${(segs.init :+ to).mkString(".")} already exists on " +
            s"$table")
      }
    }
  }

  /** ALTER TABLE DROP COLUMN: O(metadata) — the column is projected
    * away at read time; the bytes stay until copy-on-write rewrites
    * (then vacuum reclaims the old versions). Same reference guard as
    * rename. Statement spelling: `ALTER TABLE '<path>' DROP COLUMN
    * <name>`.
    */
  def dropColumn(spark: SparkSession, table: String, name: String): Long = {
    val segs = alterPath(name)
    guardColumnUnreferenced(spark, table, name, "drop")
    publishSchemaOp(spark, table, SchemaOp("drop", name)) { cur =>
      if (segs.length == 1) {
        require(cur.columns.contains(name), s"no column $name on $table")
        require(cur.columns.length > 1,
          s"cannot drop the last column of $table")
      } else {
        requireParentStruct(cur, segs, table)
        require(nestedType(cur.schema, segs).isDefined,
          s"no field $name on $table")
        val parentFields = nestedType(cur.schema, segs.init).collect {
          case s: org.apache.spark.sql.types.StructType => s.fields.length
        }.getOrElse(0)
        require(parentFields > 1,
          s"cannot drop the last field of struct ${segs.init.mkString(".")}" +
            s" on $table — drop the column itself instead")
      }
    }
  }

  /** ALTER TABLE ALTER COLUMN TYPE: O(metadata) type WIDENING — the most
    * common evolution after ADD (int→long counters, decimal headroom,
    * float→double). Pre-op dirs up-cast at read time; rows written after
    * the change store the wide type physically; a later copy-on-write
    * verb materializes it. Only Spark's LOSSLESS up-cast set is allowed
    * (`Cast.canUpCast`: integral widening, float→double, exact
    * decimal/integral→wider decimal…) — narrowing or lossy casts are
    * refused, so replaying the chain can never change a stored value.
    *
    * CHECK constraints keep working unguarded (their expressions
    * re-analyze against the widened frame — values are preserved, so
    * the predicate's verdict is too). The skipping-policy guard is also
    * unnecessary: pruned reads degrade to the full mapped scan while
    * any chain is active, and the CoW verb that materializes the type
    * rewrites the stats sidecars in the wide type. Statement spelling:
    * `ALTER TABLE '<path>' ALTER COLUMN <name> TYPE <type>`.
    */
  def widenColumn(spark: SparkSession, table: String, name: String,
      ddlType: String): Long = {
    import org.apache.spark.sql.types._
    val segs = alterPath(name)
    val dt = DataType.fromDDL(ddlType)
    publishSchemaOp(spark, table, SchemaOp("widen", name, tpe = ddlType)) {
      cur =>
        if (segs.length > 1) requireParentStruct(cur, segs, table)
        val from = nestedType(cur.schema, segs).getOrElse(
          throw new IllegalArgumentException(
            s"no column/field $name on $table"))
        require(from != dt,
          s"column $name of $table already has type ${dt.sql}")
        // WHITELIST inside Cast.canUpCast, not a blacklist: canUpCast's
        // non-numeric escapes are all value-altering or session-dependent
        // — integral→float/double loses low bits near 2⁶³, →string is a
        // re-encoding, and DATE→TIMESTAMP / TIMESTAMP↔TIMESTAMP_NTZ
        // replay through spark.sql.session.timeZone, so the same stored
        // bytes would read as DIFFERENT values in sessions with different
        // TZs. A replayed chain must promise bit-preserving values, so
        // only integral widening, float→double, and exact decimal/
        // integral→wider-decimal pass; everything else routes through a
        // CoW rewrite
        def integral(t: DataType) = t == ByteType || t == ShortType ||
          t == IntegerType || t == LongType
        val valuePreserving =
          org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(from, dt) &&
            ((from, dt) match {
              case (FloatType, DoubleType) => true
              case (f, t) if integral(f) && integral(t) => true
              case (f, _: DecimalType) if integral(f) => true
              case (_: DecimalType, _: DecimalType) => true
              case _ => false
            })
        require(valuePreserving,
          s"cannot ALTER COLUMN TYPE $name ${from.sql} -> ${dt.sql}: " +
            "only value-preserving widenings are supported (a lossy or " +
            "narrowing replay would corrupt stored values); rewrite " +
            "through a CoW verb for anything else")
    }
  }

  /** The dirs a manifest's `dir` field names: one for snapshot/merge/DML
    * commits, several for [[append]]ed versions (base dirs + the new
    * one, in commit order — the LAST entry is always the dir the version
    * itself wrote).
    */
  private def splitDirs(dir: String): Seq[String] =
    dir.split(';').iterator.map(_.trim).filter(_.nonEmpty).toSeq

  /** True when a dir-list token names a single kept parquet FILE rather
    * than a whole data dir — how file-granular copy-on-write
    * ([[updateWhere]]/[[deleteWhere]]) references the untouched files of
    * a partially-rewritten dir: the rewritten files' replacements live in
    * the verb's fresh dir, and every file the predicate provably did not
    * touch is referenced in place, one token per file. The snapshot read
    * path is unchanged (a parquet scan takes file paths as happily as dir
    * paths); everything KEYED by dir — deferred-delete scopes, schema
    * chain positions, stats sidecars, vacuum's referenced set — resolves
    * through [[dirScopeOf]]. Data files are immutable once committed, so
    * a file token is exactly as stable a reference as its dir.
    *
    * The suffix test is sound because of a grammar INVARIANT enforced at
    * every entry point where a foreign path can become a token:
    * [[convert]] and [[shallowClone]] reject whole-DIR names ending in
    * ".parquet" (managed dirs are `data/<uuid>` and can never collide).
    * Without that guard a converted dir named `events.parquet` would
    * misparse here and [[dirScopeOf]] would return its parent — wrong
    * probe scopes, silently no-op granular verbs, broken del-predicate
    * resolution.
    */
  private def isFileToken(tok: String): Boolean =
    tok.endsWith(".parquet") && !tok.contains('!')

  /** True for an EXCLUSION token `dir!f1.parquet,f2.parquet` — the dir
    * minus the named files, the form the file-granular verbs emit when
    * the touched set is smaller than the kept set, so a manifest's size
    * is O(churn + dirs), never O(files-in-touched-dirs) (a one-file
    * UPDATE on a million-file dir must not write a million-token
    * manifest). Sound because committed data dirs are immutable: the
    * read-time listing minus the exclusions is a stable set forever.
    */
  private def isExclToken(tok: String): Boolean = tok.contains('!')

  private def exclNamesOf(tok: String): Seq[String] =
    tok.substring(tok.indexOf('!') + 1).split(',').toSeq

  /** The data DIR a token belongs to: itself for whole-dir tokens, the
    * parent dir for kept-file tokens, the prefix for exclusion tokens.
    * All per-dir metadata (del-predicate scopes, chain positions,
    * `_stats` sidecars, reclaim candidacy) is recorded against the
    * SCOPE, never against a file/exclusion token — a file and its dir
    * share one vintage by construction.
    */
  private def dirScopeOf(tok: String): String =
    if (isExclToken(tok)) tok.substring(0, tok.indexOf('!'))
    else if (isFileToken(tok)) tok.substring(0, tok.lastIndexOf('/'))
    else tok

  private def listParquet(hfs: FileSystem, root: Path,
      scope: String): Seq[String] =
    hfs.listStatus(new Path(root, scope)).iterator
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSeq.sorted

  /** The file names of `scope` that this version's token group
    * references — None = the whole dir (read the dir path directly).
    * Kept-FILE tokens enumerate themselves; an exclusion token is the
    * read-time listing minus its exclusions (plus any file tokens a
    * rebase recombination may have placed alongside).
    */
  private def groupRestriction(hfs: FileSystem, root: Path, scope: String,
      toks: Seq[String],
      listCache: scala.collection.mutable.Map[String, Seq[String]] = null)
      : Option[Seq[String]] =
    if (toks.exists(t => !isFileToken(t) && !isExclToken(t))) None
    else if (toks.exists(isExclToken)) {
      val excl = toks.filter(isExclToken).flatMap(exclNamesOf).toSet
      val incl = toks.filter(isFileToken)
        .map(t => t.substring(t.lastIndexOf('/') + 1))
      // committed dirs are immutable, so a listing is stable within (and
      // beyond) one pass — callers that resolve MANY versions (vacuum's
      // file-level pass) hand in a cache to avoid per-version re-LISTs
      val listed =
        if (listCache == null) listParquet(hfs, root, scope)
        else listCache.getOrElseUpdate(scope, listParquet(hfs, root, scope))
      Some((listed.filterNot(excl) ++ incl).distinct.sorted)
    } else Some(toks.map(t => t.substring(t.lastIndexOf('/') + 1)))

  /** Absolute read paths for one scope's token group. */
  private def groupReadPaths(hfs: FileSystem, root: Path, scope: String,
      toks: Seq[String]): Seq[String] =
    groupRestriction(hfs, root, scope, toks) match {
      case None => Seq(new Path(root, scope).toString)
      case Some(files) =>
        files.map(f => new Path(root, s"$scope/$f").toString)
    }

  /** The kept-reference tokens for a partially-touched dir: whichever of
    * the exclusion form (`scope!touched,...`) and the kept-file form is
    * SMALLER — manifests stay O(min(touched, kept)) per dir. Falls back
    * to kept-file tokens when a name would corrupt the exclusion grammar
    * (',' or '!' in a file name — never true of parquet part files, but
    * adopted dirs are foreign).
    */
  private def keptTokensFor(hfs: FileSystem, root: Path, scope: String,
      referenced: Seq[String], touched: Set[String]): Seq[String] = {
    val kept = referenced.filterNot(touched)
    if (kept.isEmpty) Nil
    else {
      val keptSet = kept.toSet
      val excl = listParquet(hfs, root, scope).filterNot(keptSet)
      val exclSafe = !scope.contains('!') &&
        excl.forall(n => !n.contains(',') && !n.contains('!'))
      // a kept NAME containing '!' has no valid kept-file form either —
      // `scope/we!rd.parquet` would misparse as an exclusion token with
      // a bogus scope (wrong files read on every later snapshot). Prefer
      // the exclusion form in that case even when it is the larger one;
      // if BOTH forms are grammar-unsafe the verb must not have taken
      // the granular path (the verbs gate on grammarSafeNames up front),
      // so failing loudly here is a backstop, never a data-loss path.
      val keptFileSafe = kept.forall(n => !n.contains('!'))
      if (exclSafe && (excl.size < kept.size || !keptFileSafe))
        Seq(s"$scope!${excl.sorted.mkString(",")}")
      else if (keptFileSafe) kept.map(n => s"$scope/$n")
      else throw new IllegalStateException(
        s"no representable kept-token form for $scope: a kept file name " +
          "contains '!' and the exclusion form is unsafe too — the verb " +
          "should have fallen back to the whole-snapshot rewrite")
    }
  }

  /** True when every file name a version references is safe under the
    * manifest token grammar — i.e. the file-granular verbs can represent
    * ANY touched/kept split of these scopes. '!' in a file name (possible
    * only in adopted foreign dirs; never in managed part files) breaks
    * the kept-file form AND the exclusion form, so such versions take
    * the whole-snapshot rewrite instead. (',' alone is harmless: it only
    * rules out the exclusion form, and [[keptTokensFor]] then emits
    * kept-file tokens, which parse commas fine.)
    */
  private def grammarSafeNames(
      perScope: Seq[(String, Seq[String], Seq[String])]): Boolean =
    perScope.forall { case (scope, _, referenced) =>
      !scope.contains('!') && referenced.forall(n => !n.contains('!'))
    }

  def readLatest(spark: SparkSession, table: String): DataFrame =
    readVersion(spark, table, latestOrFail(spark, table))

  /** What changed between two committed snapshots: (key, change ∈
    * added|removed|changed) via [[graft.api.Graft.snapshotDiff]] — the
    * full-outer join runs on (key, 16-byte md5) projections, so snapshot
    * bodies never shuffle.
    */
  def diffVersions(spark: SparkSession, table: String, from: Long, to: Long,
      key: String, hashCols: Seq[String]): DataFrame =
    graft.api.Graft.snapshotDiff(
      readVersion(spark, table, from), readVersion(spark, table, to),
      key, hashCols)

  /** CDC-out: net key changes since `fromVersion`, against the CURRENT
    * latest — what an incremental downstream consumer reads to catch up
    * (pair with [[latestVersion]] to checkpoint its own high-water mark).
    * NET semantics by construction (one diff of two snapshots, not a
    * replay of every intermediate commit): a key upserted then deleted in
    * between appears as nothing; cost is one keyed join of two hash
    * projections regardless of how many versions elapsed.
    */
  def changesSince(spark: SparkSession, table: String, fromVersion: Long,
      key: String, hashCols: Seq[String]): DataFrame = {
    val to = latestOrFail(spark, table)
    require(fromVersion <= to,
      s"fromVersion $fromVersion is ahead of latest $to")
    diffVersions(spark, table, fromVersion, to, key, hashCols)
  }

  /** One row per committed version, ascending: (version, data_dir,
    * writer, batch, op, commit_ts) — writer, batch, op and commit_ts are
    * null for versions whose per-version manifest [[compactManifests]]
    * retired (the checkpoint folds only each version's dir and sidecar
    * refs; the tail keeps full provenance). Metadata-only: one listing +
    * one body read per surviving manifest.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    val (hfs, root) = fs(spark, table)
    val cp = checkpointOf(hfs, root)
    val rows = versions(spark, table).map { v =>
      val m = manifestOf(hfs, root, v, cp).getOrElse(Manifest(v, None))
      (v, m.dir.getOrElse(""), m.writer, m.batch, m.op, m.ts)
    }
    import spark.implicits._
    rows.toDF("version", "data_dir", "writer", "batch", "op", "commit_ts")
  }

  /** MERGE a CDC change batch into the latest snapshot and commit the
    * result as a new version ([[graft.api.Graft.applyChanges]] semantics:
    * per key the highest-`version` change wins, winning deletes drop the
    * key). The atomic-commit protocol makes the merge transactional: a
    * reader sees the pre-merge or post-merge snapshot, never a partial
    * merge — the STM property, at file granularity.
    *
    * Schema evolution (additive only, the q125_union_byname contract):
    * data columns present in `changes` but not in the current snapshot
    * WIDEN the table — pre-merge rows take null for the new columns, and
    * the committed snapshot carries them from this version on. A change
    * batch MISSING columns the snapshot has fails typed instead — a
    * change row must describe its full row, or an upsert would silently
    * null out surviving columns.
    *
    * Concurrency: the merge PINS the base version it read and publishes
    * at exactly base+1 — it does NOT re-select "latest+1" at publish
    * time. A commit landing between the read and the publish therefore
    * raises [[CommitConflictException]] (retry: re-read, re-merge)
    * instead of silently producing a snapshot that drops the concurrent
    * commit's changes — the lost-update anomaly the optimistic protocol
    * exists to prevent. Since r16 a PROVABLY-DISJOINT race resolves
    * internally instead (file-granular merges rebase like appends and
    * DML — see [[publishCowRebasing]]'s guards: the winner kept
    * every touched file, holds none of this batch's keys in its added
    * files, and changed no sidecar/constraint/batch-token state).
    * Isolation note (Delta's WriteSerializable level, its default): the
    * rebase guarantees the BATCH applies exactly as a serial replay
    * would; if the batch was itself DERIVED from table rows beyond its
    * own keys' (e.g. "set k to the sum of all rows"), that derivation is
    * the caller's snapshot, as in any engine without full SSI.
    */
  def commitMerge(spark: SparkSession, table: String, changes: DataFrame,
      key: String, version: String, op: String,
      maxRecordsPerFile: Long = 5000000L,
      batchId: Option[Long] = None): Long =
    commitMergeFrom(spark, table, latestOrFail(spark, table), changes, key,
      version, op, maxRecordsPerFile, batchId)

  /** [[commitMerge]] against an explicitly pinned base version — the seam
    * that makes the optimistic-concurrency contract testable (pin a stale
    * base while a newer version exists → the publish must conflict, not
    * overwrite). Also the retry entry: a caller holding a conflict can
    * re-read, re-derive its changes, and re-merge from the new latest.
    */
  private[graft] def commitMergeFrom(spark: SparkSession, table: String,
      baseVersion: Long, changes: DataFrame,
      key: String, version: String, op: String,
      maxRecordsPerFile: Long = 5000000L,
      batchId: Option[Long] = None): Long =
    commitMergeFromKeys(spark, table, baseVersion, changes, Seq(key),
      version, op, maxRecordsPerFile, batchId)

  /** Composite-key [[commitMergeFrom]]: rows are identified by the tuple
    * of `keys`. The manifest records the merge key only in the
    * single-key case — [[refreshRollup]]'s pre-image recovery semi-joins
    * the feed on that recorded column, and a composite identity has no
    * single column to record, so multi-key-merged bases simply take the
    * full-recompute fallback (never a wrong answer).
    *
    * @param probeScope r18: a caller that already probed the base for a
    *   SUPERSET of this batch's keys (mergeUpdateKeysFrom probes for the
    *   SOURCE keys to restrict the matched-row read; the change keys are
    *   a subset) passes its touched (scope, file-token) groups here, and
    *   the merge's own key probe scans only those files instead of the
    *   whole layout — sound because a file holding a change key
    *   necessarily holds a matching source key. `None` = probe the full
    *   layout (every other caller). Bookkeeping (kept tokens, rewrite
    *   counters) still runs against the FULL reference layout.
    */
  private[graft] def commitMergeFromKeys(spark: SparkSession, table: String,
      baseVersion: Long, changes: DataFrame,
      keys: Seq[String], version: String, op: String,
      maxRecordsPerFile: Long = 5000000L,
      batchId: Option[Long] = None,
      probeScope: Option[Seq[(String, Seq[String])]] = None): Long = {
    val (hfs, root) = fs(spark, table)
    val baseM = commitOf(hfs, root, table, baseVersion)
    val base = snapshotOf(spark, hfs, root, baseM)
    // the version/op names partition `changes` into metadata vs data
    // columns; a BASE data column with one of those names would make that
    // partition ambiguous (its updates would be stripped as metadata and
    // the merge would fail "missing snapshot columns" for a column the
    // caller plainly supplied) — fail with the real cause instead
    val collide = base.columns.filter(c => c == version || c == op)
    if (collide.nonEmpty) throw new IllegalArgumentException(
      s"version/op column name(s) ${collide.mkString(", ")} collide with " +
        s"snapshot data columns of $table — pick change-metadata names " +
        "the table does not use")
    val changeDataCols = changes.columns.filterNot(c => c == version || c == op)
    val missing = base.columns.diff(changeDataCols)
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"change batch is missing snapshot columns ${missing.mkString(", ")} " +
        "— narrowing merges are not supported (a change row must carry the " +
        "full row); use mergeUpdate/mergeUpdateKeys (SQL: WHEN MATCHED " +
        "THEN UPDATE SET c = expr) for column-subset updates, or drop " +
        "the columns from the table first if intended")
    val added = changeDataCols.diff(base.columns)
    // r18: the change batch's PLAN executes several times below — the key
    // probe, the merged-snapshot write, the CDC sidecar write, and (on
    // conflict) the rebase guard; for a compiled MERGE the plan is itself
    // a join against the (probe-restricted) base, so each execution
    // re-ran that join. The batch is O(churn) by the merge contract —
    // cache it for the duration of the commit (measured: q252's
    // partial-column MERGE statement 14 Spark jobs → ~8). Unpersisted in
    // `finally`, so nothing outlives the verb; as a side effect every
    // pass (probe/apply/CDC/rebase) now provably sees the SAME rows even
    // for a nondeterministic batch on the fallback path.
    val changesCached = changes.cache()
    try {
    // FILE-GRANULAR merge (r16): when the batch neither widens the schema
    // nor lands under an active mapping (both fall back to the
    // whole-snapshot path, which is what materializes them), only the
    // files that HOLD a change-batch key rewrite — a key-equality
    // semi-join with `_metadata.file_path` finds them; inserts land in
    // the fresh dir with the rewritten rows; everything else is
    // referenced in place. This converts the last O(table) verb class —
    // the streaming upsert sink paid a full CoW rewrite PER MICRO-BATCH —
    // to O(matched files + batch). Nondeterministic change plans fall
    // back too (the batch evaluates twice here: probe + apply).
    // determinism must hold over the WHOLE change plan, not just the
    // root node: QueryPlan.expressions returns only the root's, so a
    // rand()/uuid() in a Project BENEATH a root Filter would pass a
    // root-only gate, and the probe/apply/CDC/rebase passes could each
    // see different rows — silent duplicates. (The updateWhere/
    // deleteWhere gate is root-only by construction: cond sits wholly
    // in the root Filter it builds.)
    val deterministic = changes.queryExecution.analyzed.find(
      p => p.expressions.exists(!_.deterministic)).isEmpty
    // granular: only the files holding a change key feed applyChanges;
    // otherwise the whole (widened) snapshot does
    val granular = (if (added.isEmpty && deterministic)
      granularLayout(hfs, root, baseM) else None)
      .filterNot(smallFreshBase(spark, table, baseVersion, _)).map { perScope =>
      val preds = delStateOf(hfs, root, baseM)
      val touched = probeTouched(spark, hfs, root, preds, perScope,
        probeScope)(keyHits(_, changesCached, keys))
      lastCowRewrite.set((touched.valuesIterator.map(_.size).sum,
        perScope.iterator.map(_._3.size).sum))
      (perScope, touched,
        touchedRows(spark, hfs, root, preds, perScope, touched)
          .getOrElse(base.limit(0))) // pure-insert batch: no file touched
    }
    val input = granular.map(_._3).getOrElse(
      added.foldLeft(base)((b, c) =>
        b.withColumn(c, org.apache.spark.sql.functions.lit(null)
          .cast(changes.schema(c).dataType))))
    val d = writeSnapshot(spark,
      graft.api.Graft.applyChanges(input, changesCached, keys, version, op),
      table, maxRecordsPerFile)
    // change-data-feed at write time: the change batch IS this version's
    // row-level CDC — persist it inside the (still unpublished) data dir,
    // so a downstream consumer reads deltas without diffing snapshots.
    // The `_` prefix keeps it invisible to readVersion; atomic with the
    // commit by the same argument as the stats sidecar.
    changesCached.write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .parquet(new Path(new Path(table), s"$d/$changesDirName").toString)
    val mergeKey = if (keys.size == 1) Some(keys.head) else None
    val committed: Long = granular match {
      case Some((perScope, touched, _)) =>
        // publish with the DISJOINT REBASE tail (r16): a racing commit
        // whose reference set holds none of this batch's keys resolves
        // internally — guard 2's hit test is the same null-safe key
        // semi-join the probe used (sound for rollup pre-image recovery
        // too: guards 1+2 make our keys' pre-images in the winner's
        // snapshot identical to our base's)
        publishCowRebasing(spark, table, baseM, "merge",
          perScope, touched, Some(d), batchId, mergeKey)(paths =>
          keyHits(parquetOf(spark, paths: _*), changesCached, keys)
            .limit(1).count() > 0)
      case None =>
        publish(spark, table, baseVersion + 1L, d, batchId, op = "merge",
          mergeKey = mergeKey)
        baseVersion + 1L
    }
    mirrorIfEnabled(spark, table)
    committed
    } finally changesCached.unpersist(false)
  }

  private val changesDirName = "_changes"

  /** The streaming change feed's tail after a merge or append commit
    * (opt-in via [[enableChangeFeed]]): mirror the committed batch into
    * `_cdf/` for file-stream subscribers. The commit STANDS regardless —
    * a mirror failure self-heals on the next commit or an explicit
    * [[mirrorChangeFeed]] call, so it must not surface as a (false)
    * commit failure.
    */
  private def mirrorIfEnabled(spark: SparkSession, table: String): Unit = {
    val (hfs, root) = fs(spark, table)
    if (hfs.exists(new Path(root, cdfDirName)))
      try mirrorChangeFeed(spark, table)
      catch { case scala.util.control.NonFatal(_) => () }
  }

  /** The exact change batch `version` was committed with (columns as the
    * merge caller supplied — for [[mergeInto]]/[[mergeBatchIfNew]] that is
    * the source schema plus `__ver`/`__op`) — the row-level change feed a
    * downstream consumer polls: for each new version, `readChanges` when
    * it merges, falling back to [[diffVersions]] for full-snapshot
    * commits (which have no change log — this throws for those). Reading
    * deltas instead of diffing snapshots is the 100 TB difference between
    * touching the batch and touching the table.
    */
  def readChanges(spark: SparkSession, table: String,
      version: Long): DataFrame = {
    val (hfs, root) = fs(spark, table)
    val op = manifestOf(hfs, root, version).flatMap(_.op)
    // a deferred delete wrote NO dir (its last dir is the base's, whose
    // _changes — if any — belongs to an EARLIER merge); its change batch
    // is nonetheless fully DERIVABLE: the rows its new predicate removed
    // from the predecessor snapshot. Synthesize them so CDC consumers
    // (replica sink, incremental rollup, the _cdf mirror) ride through
    // DELETE ... DEFERRED instead of stalling until a CoW verb lands.
    if (op.contains("lazydelete"))
      return lazyDeleteChanges(spark, table, version)
    // a schema-evolution version changed METADATA only — zero rows. An
    // empty batch (in the POST-evolution logical schema) keeps CDC
    // consumers riding instead of stalling; the last-dir probe below
    // would otherwise misattribute an older merge's _changes sidecar
    // (the clone hazard), since a schema version writes no dir of its
    // own.
    if (op.contains("schema")) {
      import org.apache.spark.sql.functions.lit
      return readVersion(spark, table, version).limit(0)
        .withColumn("__op", lit("u")).withColumn("__ver", lit(1L))
    }
    // zero-copy bootstraps (clone/convert) wrote no dir either: their v1
    // references the SOURCE's dirs, and a _changes sidecar found there
    // belongs to a SOURCE merge — returning it would double-apply that
    // batch to any CDC consumer polling the clone. Same refusal shape.
    if (op.exists(o => o == "clone" || o == "convert"))
      throw new IllegalArgumentException(
        s"version $version of $table is a zero-copy ${op.get} bootstrap " +
          "— its referenced dirs (and any _changes " +
          "sidecar in them) belong to the source table; it has no change " +
          "log of its own; use diffVersions")
    // an appended version's change batch IS its newly written dir (the
    // manifest's LAST dir; appends replace no rows), tagged as upserts —
    // enumeration costs O(batch), the same bytes the append wrote, so
    // insert-only ingest streams feed replicas without ever diffing.
    // Keyed consumers inherit replicaBatchIfNew's contract: append
    // batches must be key-unique for the upsert interpretation to hold.
    if (op.contains("insert")) {
      import org.apache.spark.sql.functions.lit
      val df =
        parquetOf(spark, dataPathsOf(spark, table, version).last.toString)
      require(!df.columns.contains("__ver") && !df.columns.contains("__op"),
        s"$table carries reserved columns __ver/__op — its appends " +
          "cannot synthesize a change feed")
      return df.withColumn("__op", lit("u")).withColumn("__ver", lit(1L))
    }
    // the LAST dir is the one this version itself wrote — where a merge
    // commit put its change log (merge versions are single-dir anyway;
    // for append/snapshot versions the probe correctly finds nothing)
    val dataDir = dataPathsOf(spark, table, version).last
    val p = new Path(dataDir, changesDirName)
    if (!hfs.exists(p)) throw new IllegalArgumentException(
      s"version $version of $table has no change log (full-snapshot " +
        "commit) — use diffVersions for snapshot-level CDC")
    parquetOf(spark, sidecarFiles(hfs, p): _*)
  }

  /** BOUNDED CDC range read (r15): the change batches of every version
    * in `[fromVersion, toVersion]`, unioned by name and tagged
    * `_commit_version` — the window a catch-up consumer actually wants
    * (today's alternatives were per-version polls, changesSince's
    * net-vs-latest diff, or re-tailing the whole mirror). Per version,
    * the batch resolves in this order:
    *
    *  1. the `_cdf/` mirror dir when the feed is enabled and mirrored —
    *     this is what lets a range read CROSS A COMPACTION HORIZON
    *     (compaction retires the per-version manifest, and with it the
    *     op field the non-mirrored path classifies by);
    *  2. the op-classified per-version source ([[readChanges]]): merge /
    *     insert / deferred-delete batches; `schema` and `optimize`
    *     versions are ROW-NEUTRAL (metadata/layout only) and contribute
    *     nothing;
    *  3. anything else — full-snapshot/CoW commits with no row-level
    *     log, or a compacted version without a mirror — throws with the
    *     remedy, never silently returns a partial window (a bounded
    *     read's contract is completeness).
    *
    * Batches across a widening merge union by NAME with missing columns
    * null-filled (the change-feed schema is additive by construction).
    * An all-neutral window returns an EMPTY frame in the window-end
    * logical schema. Statement spelling:
    * `READ CHANGES '<path>' VERSION <from> TO <to>`.
    */
  def readChanges(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(fromVersion <= toVersion,
      s"empty window: VERSION $fromVersion TO $toVersion")
    val live = versions(spark, table)
    require(live.nonEmpty, s"$table has no committed versions")
    require(toVersion <= live.last,
      s"version $toVersion of $table is not committed yet " +
        s"(latest = ${live.last})")
    require(fromVersion >= live.head,
      s"version $fromVersion of $table is expired (oldest surviving = " +
        s"${live.head}) — its change batch can no longer be enumerated")
    val (hfs, root) = fs(spark, table)
    def batchOf(v: Long): Option[DataFrame] = {
      val mirrored = new Path(new Path(root, cdfDirName), cdfVersionDirName(v))
      if (hfs.exists(mirrored))
        Some(parquetOf(spark, mirrored.toString).drop("_commit_version"))
      else manifestOf(hfs, root, v).flatMap(_.op) match {
        case Some("lazydelete") =>
          // an unmirrored deferred delete synthesizes its batch from the
          // PREDECESSOR snapshot — at the oldest surviving version that
          // predecessor may itself be expired, and the read would
          // otherwise surface a raw "never committed" error; raise the
          // same mirror/remedy message the folded case gets
          if (manifestOf(hfs, root, v - 1L).isEmpty)
            throw new IllegalArgumentException(
              s"version $v of $table is a deferred delete whose " +
                s"predecessor ${v - 1} is expired and no _cdf mirror " +
                "exists for it — enable the change feed before " +
                "compacting/expiring history you want to range-read")
          Some(readChanges(spark, table, v))
        case Some("merge") | Some("insert") =>
          Some(readChanges(spark, table, v))
        case Some("schema") | Some("optimize") => None // row-neutral
        case Some(other) => throw new IllegalArgumentException(
          s"version $v of $table is a '$other' commit with no row-level " +
            "change log — a bounded range read cannot be complete across " +
            "it; use diffVersions for snapshot-level CDC")
        case None => throw new IllegalArgumentException(
          s"version $v of $table was checkpoint-folded and no _cdf " +
            "mirror exists for it — enable the change feed before " +
            "compacting history you want to range-read")
      }
    }
    val batches = (fromVersion to toVersion).flatMap(v =>
      batchOf(v).map(_.withColumn("_commit_version", lit(v))))
    if (batches.isEmpty)
      readVersion(spark, table, toVersion).limit(0)
        .withColumn("__op", lit("u")).withColumn("__ver", lit(1L))
        .withColumn("_commit_version", lit(toVersion))
    else batches.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Synthesize the change batch of a deferred-delete version: the rows
    * its newly added predicate(s) removed from the PREDECESSOR snapshot,
    * tagged `__op = "d"` / `__ver = 1` (the [[mergeInto]] feed
    * convention, so [[replicaBatchIfNew]] and [[graft.api.Graft.applyChanges]]
    * consume them unchanged). The verb itself stays O(metadata) — only
    * the CDC consumer pays this enumeration, and only when it asks:
    * one predicate-filtered pass over the dirs the delete was scoped
    * to, with both the old keep-filters and the new predicate pushed
    * into the parquet scans. Per-dir evaluation mirrors [[readVersion]]
    * exactly: a dir outside a predicate's scope contributes nothing,
    * rows an EARLIER delete already removed never re-report, and NULL
    * predicate rows were kept (SQL DELETE), so they are not deletions.
    */
  private def lazyDeleteChanges(spark: SparkSession, table: String,
      version: Long): DataFrame = {
    import org.apache.spark.sql.functions.{lit, not}
    val (hfs, root) = fs(spark, table)
    val prev = manifestOf(hfs, root, version - 1L).getOrElse(
      throw new IllegalArgumentException(
        s"predecessor version ${version - 1} of $table is expired — the " +
          "deferred delete's rows can no longer be enumerated; use " +
          "diffVersions over surviving versions"))
    val oldState = delStateOf(hfs, root, prev)
    // del-state is append-only between consecutive versions (a CoW verb
    // that resets it also changes the op away from "lazydelete"), so the
    // suffix beyond the predecessor's entries is exactly what v added
    val added = delStateOf(hfs, root, commitOf(hfs, root, table, version))
      .drop(oldState.size)
    val deleted = groupTokensByScope(splitDirs(prev.dataDir)).map {
      case (scope, toks) =>
        val df = parquetOf(spark, groupReadPaths(hfs, root, scope, toks): _*)
        val visible = delKeepFilter(oldState, scope)
          .map(df.where).getOrElse(df)
        delKeepFilter(added, scope) match {
          case Some(keep) => visible.where(not(keep))
          case None => visible.limit(0)
        }
    }.reduce(_ union _)
    require(!deleted.columns.contains("__ver") &&
      !deleted.columns.contains("__op"),
      s"$table carries reserved columns __ver/__op — its deferred " +
        "deletes cannot synthesize a change feed")
    deleted.withColumn("__op", lit("d")).withColumn("__ver", lit(1L))
  }

  private val cdfDirName = "_cdf"
  private def cdfVersionDirName(v: Long) = f"v$v%08d"

  /** Opt in to the STREAMING change feed: create the root-level `_cdf/`
    * mirror directory and backfill it from every committed merge and
    * deferred-delete version still carrying a per-version manifest.
    * Once enabled, every later merge commit mirrors its change batch —
    * and every deferred delete its SYNTHESIZED delete rows — into
    * `_cdf/v<NNNNNNNN>/`
    * (with a `_commit_version` column) right after publish — the
    * directory a Structured Streaming file source can tail
    * ([[graft.streaming.Streams.changeFeedStream]]), which is what turns
    * the polling `readChanges` consumer into a push-style subscription:
    * at 100 TB a downstream pipeline follows the feed in O(churn),
    * never touching the table. Returns the versions mirrored now.
    *
    * Disabled tables (no `_cdf/` dir) pay nothing. The per-version
    * `_changes` sidecar stays the source of truth — the mirror is
    * derived, reconstructible by this call at any time while the
    * version's manifest lives ([[compactManifests]] retires the op
    * field the mirror filters on — enable the feed before compacting
    * history you want streamed).
    */
  def enableChangeFeed(spark: SparkSession, table: String): Seq[Long] = {
    val (hfs, root) = fs(spark, table)
    hfs.mkdirs(new Path(root, cdfDirName))
    mirrorChangeFeed(spark, table)
  }

  /** Mirror every committed-but-unmirrored merge version's change batch
    * (and every deferred-delete version's synthesized one)
    * into `_cdf/` (no-op per version already mirrored — idempotent, and
    * the self-heal entry if a writer crashed between publish and its
    * mirror step). Each version dir appears ATOMICALLY via
    * temp-then-rename(NONE), so a streaming reader never lists a
    * half-written batch; losers of a concurrent-mirror race discard
    * their temp. Only COMMITTED versions mirror — a publish loser's
    * orphaned data dir (which also carries a `_changes` sidecar) can
    * never leak phantom rows into the feed.
    */
  def mirrorChangeFeed(spark: SparkSession, table: String): Seq[Long] = {
    val (hfs, root) = fs(spark, table)
    val cdfRoot = new Path(root, cdfDirName)
    require(hfs.exists(cdfRoot),
      s"change feed is not enabled on $table — call enableChangeFeed " +
        "first (the _cdf/ dir is the opt-in marker)")
    import org.apache.spark.sql.functions.lit
    versions(spark, table).filter { v =>
      // merges mirror their persisted _changes batch; deferred deletes
      // mirror their synthesized delete rows (readChanges derives them
      // from the predecessor snapshot); appends mirror their new dir as
      // upserts — so neither a DELETE ... DEFERRED nor an INSERT INTO
      // silently vanishes from a downstream subscription (a folded
      // version's op is gone with its manifest: no checkpoint read)
      manifestOf(hfs, root, v, Map.empty).flatMap(_.op).exists(o =>
        o == "merge" || o == "lazydelete" || o == "insert") && {
        val target = new Path(cdfRoot, cdfVersionDirName(v))
        !hfs.exists(target) && {
          val tmp = new Path(cdfRoot, s".tmp-${UUID.randomUUID}")
          readChanges(spark, table, v)
            .withColumn("_commit_version", lit(v))
            .write.mode(SaveMode.Overwrite)
            .option("compression", "zstd")
            .parquet(tmp.toString)
          val fc = org.apache.hadoop.fs.FileContext.getFileContext(
            target.toUri, spark.sparkContext.hadoopConfiguration)
          try { fc.rename(tmp, target,
            org.apache.hadoop.fs.Options.Rename.NONE); true }
          catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
              // lost a concurrent-mirror race: theirs is complete, ours
              // is surplus
              hfs.delete(tmp, true)
              hfs.exists(target)
            case e: java.io.IOException =>
              hfs.delete(tmp, true)
              // only a FILLED slot proves a race; an empty slot means the
              // rename genuinely failed (permissions, quota) — surface it
              // rather than report the version as quietly unmirrored
              // forever (the merge-path caller swallows NonFatal by
              // design, but an explicit mirrorChangeFeed call must see it)
              if (hfs.exists(target)) true else throw e
          }
        }
      }
    }
  }

  /** MERGE-INTO-shaped entry over [[commitMerge]] — the verb a lakehouse
    * user actually types, without hand-building a CDC batch:
    *
    *  - source rows matching `deleteWhen` DELETE their key (a delete of
    *    an absent key is a no-op, as in SQL MERGE);
    *  - every other source row UPSERTS: replaces the matched key's row
    *    wholesale, inserts unmatched keys.
    *
    * Precondition (same as SQL MERGE, where multiple matches are a
    * runtime error): at most one source row per key — duplicates make
    * the surviving row arbitrary. Column-level `SET x = expr` reduces to
    * the caller pre-computing the source frame (full-row semantics);
    * additive schema evolution per [[commitMerge]] (new source columns
    * widen the table, missing ones fail typed). Compiles to the same
    * union + one keyed window as every other merge — one hash shuffle
    * on the key at any scale.
    */
  def mergeInto(spark: SparkSession, table: String, source: DataFrame,
      key: String,
      deleteWhen: org.apache.spark.sql.Column =
        org.apache.spark.sql.functions.lit(false),
      maxRecordsPerFile: Long = 5000000L,
      batchId: Option[Long] = None): Long =
    mergeIntoKeys(spark, table, source, Seq(key), deleteWhen,
      maxRecordsPerFile, batchId)

  /** Composite-key [[mergeInto]]: the matched row is identified by the
    * TUPLE of `keys` (same contract otherwise — ≤ 1 source row per key
    * tuple, full-row upsert, conditional delete). Same one-hash-shuffle
    * plan: the key arity changes the shuffle expression, never the pass
    * count. What lets multi-key rollups ([[refreshRollup]]) ride the
    * incremental path.
    */
  def mergeIntoKeys(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String],
      deleteWhen: org.apache.spark.sql.Column =
        org.apache.spark.sql.functions.lit(false),
      maxRecordsPerFile: Long = 5000000L,
      batchId: Option[Long] = None): Long = {
    import org.apache.spark.sql.functions.{lit, when}
    require(keys.nonEmpty, "mergeIntoKeys needs at least one key column")
    require(!source.columns.contains("__ver") && !source.columns.contains("__op"),
      "source must not carry reserved columns __ver/__op")
    val changes = source
      .withColumn("__op", when(deleteWhen, "d").otherwise("u"))
      .withColumn("__ver", lit(1L))
    commitMergeFromKeys(spark, table, latestOrFail(spark, table), changes,
      keys, version = "__ver", op = "__op",
      maxRecordsPerFile = maxRecordsPerFile, batchId = batchId)
  }

  /** PARTIAL-COLUMN MERGE — SQL's `WHEN MATCHED THEN UPDATE SET c =
    * expr[, ...]` without the caller pre-building full rows: for every
    * source row whose key tuple matches, the matched row's `set` columns
    * re-evaluate (expressions see the OLD row as alias `t` and the
    * source row as alias `s` — qualify when names collide) and every
    * UNMENTIONED column survives verbatim. Unmatched source keys are
    * ignored (a partial update has no full row to insert — use
    * [[mergeIntoKeys]] for upserts); assignments cast to the column's
    * existing type, so the verb never migrates schema; `set` may not
    * name a key column (that would re-key the row — delete + insert is
    * the honest spelling).
    *
    * Cost shape: the composed change batch is PRE-RESTRICTED to the
    * files that hold a matched key (one key-pruned probe scan), so the
    * granular-merge machinery downstream — its own probe, applyChanges,
    * the `_changes` CDC write, the rebase guard — re-reads only those
    * files, never the table: O(matched files + batch) end to end, the
    * same class as [[mergeIntoKeys]]. Under an active schema mapping
    * the pre-restriction is skipped (the mapped read handles physical
    * names) and the merge's own whole-snapshot fallback materializes as
    * documented. The CDC sidecar carries the COMPOSED full rows, so
    * change-feed consumers and [[refreshRollup]] see a partial update
    * exactly as a full-row upsert of the post-image — no new feed
    * semantics.
    */
  def mergeUpdateKeys(spark: SparkSession, table: String,
      source: DataFrame, keys: Seq[String],
      set: Map[String, org.apache.spark.sql.Column],
      maxRecordsPerFile: Long = 5000000L,
      batchId: Option[Long] = None,
      updateWhen: org.apache.spark.sql.Column =
        org.apache.spark.sql.functions.lit(true)): Long =
    mergeUpdateKeysFrom(spark, table, latestOrFail(spark, table),
      source, keys, set, maxRecordsPerFile, batchId, updateWhen)

  /** [[mergeUpdateKeys]] against an explicitly pinned base — the
    * concurrency seam, and what makes the verb SAFE under races: the
    * post-images are composed from `base`'s rows, so the commit MUST be
    * pinned at that same base (publishing through the rebase guards, at
    * base+1) — re-resolving latest at commit time would drop v1-derived
    * post-images onto a winner the composition never read, a silent
    * lost update the guards exist to prevent. A winner that touched any
    * of this batch's keys fails guard 1/2 → honest conflict; a disjoint
    * winner rebases internally (its rows for our keys are byte-equal to
    * base's, so the v1-derived post-image IS the serial-replay result).
    */
  private[graft] def mergeUpdateKeysFrom(spark: SparkSession,
      table: String, base: Long, source: DataFrame, keys: Seq[String],
      set: Map[String, org.apache.spark.sql.Column],
      maxRecordsPerFile: Long = 5000000L,
      batchId: Option[Long] = None,
      updateWhen: org.apache.spark.sql.Column =
        org.apache.spark.sql.functions.lit(true)): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    require(keys.nonEmpty, "mergeUpdateKeys needs at least one key column")
    require(set.nonEmpty, "mergeUpdateKeys needs at least one assignment")
    val (hfs, root) = fs(spark, table)
    val baseM = commitOf(hfs, root, table, base)
    val cur = snapshotOf(spark, hfs, root, baseM)
    // name checks are CASE-INSENSITIVE like Spark's own resolution (and
    // the documented GraftSql grammar); assignments rebind to the
    // table's canonical spelling so the composed projection looks up
    // the right column
    def canon(cols: Array[String], n: String): Option[String] =
      cols.find(_.equalsIgnoreCase(n))
    val missingKeys = keys.filterNot(k => canon(source.columns, k).isDefined)
    require(missingKeys.isEmpty,
      s"source is missing key column(s) ${missingKeys.mkString(", ")}")
    val unknown = set.keys.filterNot(c => canon(cur.columns, c).isDefined)
    require(unknown.isEmpty,
      s"SET names column(s) the table does not have: " +
        unknown.mkString(", "))
    val setCanon: Map[String, org.apache.spark.sql.Column] =
      set.map { case (c, e) => canon(cur.columns, c).get -> e }
    val keyed = setCanon.keys.filter(c =>
      keys.exists(_.equalsIgnoreCase(c)))
    require(keyed.isEmpty,
      s"SET may not assign key column(s) ${keyed.mkString(", ")} — " +
        "re-keying is a delete + insert")
    // pre-restrict the matched-row read to the files holding a source
    // key (the granular merge's probe shape, per scope so deferred-
    // delete keep filters bind to their raw frames and `_metadata`
    // resolves directly over each file scan): the probe is column-
    // pruned to the keys, and every later execution of the composed
    // batch — the merge's own probe, applyChanges, the CDC write, the
    // rebase guard — then opens only those files
    val (restricted, sourceProbeScope) =
      granularLayout(hfs, root, baseM) match {
        case None => (cur, None)
        case Some(perScope) =>
          val preds = delStateOf(hfs, root, baseM)
          val touched = probeTouched(spark, hfs, root, preds, perScope)(
            keyHits(_, source, keys))
          // r18: the touched set doubles as the NEXT probe's scope — the
          // commit tail re-probes for the (subset) change keys, and files
          // outside this superset cannot hold one (see commitMergeFromKeys)
          (touchedRows(spark, hfs, root, preds, perScope, touched)
            .getOrElse(cur.limit(0)), Some(touchedGroups(perScope, touched)))
      }
    val t = restricted.alias("t")
    val s = source.alias("s")
    val matchCond = keys.map(k => col(s"t.$k") <=> col(s"s.$k"))
      .reduce(_ && _)
    // `updateWhen` (SQL: WHEN MATCHED AND cond): matched pairs failing
    // the condition simply leave the change batch — their rows survive
    // verbatim through the kept/untouched path; NULL = no update, per
    // SQL condition semantics
    val composed = t.join(s, matchCond, "inner")
      .where(org.apache.spark.sql.functions.coalesce(updateWhen,
        org.apache.spark.sql.functions.lit(false)))
      .select(
      cur.columns.toIndexedSeq.map { c =>
        setCanon.get(c) match {
          case Some(e) => e.cast(cur.schema(c).dataType).as(c)
          case None => col(s"t.$c")
        }
      }: _*)
    require(!composed.columns.contains("__ver") &&
      !composed.columns.contains("__op"),
      "table must not carry reserved columns __ver/__op")
    // commit PINNED at the base the post-images were composed from —
    // through the same rebase-guarded tail as every granular merge
    val changes = composed
      .withColumn("__op", lit("u")).withColumn("__ver", lit(1L))
    commitMergeFromKeys(spark, table, base, changes, keys,
      version = "__ver", op = "__op",
      maxRecordsPerFile = maxRecordsPerFile, batchId = batchId,
      probeScope = sourceProbeScope)
  }

  /** Single-key [[mergeUpdateKeys]]. */
  def mergeUpdate(spark: SparkSession, table: String, source: DataFrame,
      key: String, set: Map[String, org.apache.spark.sql.Column],
      maxRecordsPerFile: Long = 5000000L,
      batchId: Option[Long] = None,
      updateWhen: org.apache.spark.sql.Column =
        org.apache.spark.sql.functions.lit(true)): Long =
    mergeUpdateKeys(spark, table, source, Seq(key), set,
      maxRecordsPerFile, batchId, updateWhen)

  /** Append `rows` to the table as a new version (SQL INSERT INTO) in
    * O(NEW DATA): the new batch writes to ONE fresh writer-unique dir and
    * the manifest for base+1 names the base version's dirs PLUS that dir
    * — no byte of the existing table is read or rewritten, which is what
    * makes drip ingest viable at 100 TB (the copy-on-write verbs rewrite
    * the snapshot; an append must not). Consequences, by design:
    *
    *  - schema must match the base column set EXACTLY (order-free — the
    *    batch is realigned): the base dirs are reused as-is, so a
    *    widening append would leave old files without the new column and
    *    no per-file schema story; widen through [[commitMerge]] instead;
    *  - CHECK constraints gate the NEW rows only (base rows passed their
    *    own commit's gate — re-checking 100 TB per insert would defeat
    *    the point); a constraint added after the base commit applies to
    *    data from the next commit, as documented on [[setConstraints]];
    *  - the skipping policy writes the new dir's sidecar only; base dirs
    *    keep theirs, so pruned reads stay pruned across appends;
    *  - many drip appends accrete dirs (and small files): run
    *    [[optimize]] periodically to compact a multi-dir version back to
    *    one clustered dir — the manifest cost is O(dirs) per version
    *    until then;
    *  - no key semantics: duplicates append as-is ([[mergeInto]] is the
    *    upsert verb). Base-pinned optimistic concurrency like every
    *    derived-state verb: a racing commit raises
    *    [[CommitConflictException]], never a lost update. For
    *    [[refreshRollup]], the new dir IS the version's delta — an
    *    appended version stays on the incremental path with no change
    *    feed needed.
    */
  def append(spark: SparkSession, table: String, rows: DataFrame,
      maxRecordsPerFile: Long = 5000000L): Long = {
    val base = latestVersion(spark, table).getOrElse(
      throw new IllegalArgumentException(
        s"$table has no committed versions — create it first (commit / " +
          "CREATE VERSIONED TABLE)"))
    appendFrom(spark, table, base, rows, maxRecordsPerFile)
  }

  /** Exactly-once micro-batch APPEND — the insert-only sibling of
    * [[mergeBatchIfNew]] for event/log ingest streams: each micro-batch
    * costs O(batch) (one fresh dir + one manifest), where the merge sink
    * pays an O(table) copy-on-write rewrite per batch — at 100 TB the
    * difference between a viable drip-ingest pipeline and one that
    * rewrites the table every trigger. Same idempotence contract: the
    * batch token pinned in the manifest turns a replayed batch into a
    * no-op (None); same single-writer rule. First batch on an empty
    * table commits the source as v1. Pair with periodic [[optimize]] to
    * compact the accreted dirs.
    */
  def appendBatchIfNew(spark: SparkSession, table: String,
      source: DataFrame, batchId: Long): Option[Long] =
    streamBatchIfNew(spark, table, batchId, source)(base =>
      appendFrom(spark, table, base, source, 5000000L,
        batchId = Some(batchId)))

  /** The exactly-once frame of the three stream sinks: a batch whose
    * token the latest commit already carries is a replay (None); the
    * first batch on an empty table commits `bootstrap` as v1 (op
    * "stream"); any later batch runs `verb` against the latest version.
    */
  private def streamBatchIfNew(spark: SparkSession, table: String,
      batchId: Long, bootstrap: => DataFrame)(
      verb: Long => Long): Option[Long] =
    if (lastBatchId(spark, table).contains(batchId)) None
    else Some(latestVersion(spark, table) match {
      case None => commitPinned(spark, bootstrap, table, 0L, op = "stream",
        batchId = Some(batchId))
      case Some(base) => verb(base)
    })

  /** [[append]] against an explicitly pinned base — the concurrency test
    * seam, mirroring [[deleteWhereFrom]].
    */
  private[graft] def appendFrom(spark: SparkSession, table: String,
      base: Long, rows: DataFrame, maxRecordsPerFile: Long,
      batchId: Option[Long] = None): Long = {
    import org.apache.spark.sql.functions.col
    val baseDf = readVersion(spark, table, base)
    val missing = baseDf.columns.diff(rows.columns)
    val extra = rows.columns.diff(baseDf.columns)
    if (missing.nonEmpty || extra.nonEmpty) throw new IllegalArgumentException(
      s"INSERT batch schema must match the table exactly" +
        (if (missing.nonEmpty) s"; missing: ${missing.mkString(", ")}" else "") +
        (if (extra.nonEmpty) s"; unknown: ${extra.mkString(", ")}" else "") +
        " — append reuses the base files as-is; widen the schema through " +
        "a merge (commitMerge) instead")
    // cast to the table's column types (SQL INSERT assignment semantics,
    // the updateWhere precedent): the dirs of one version must agree on
    // PHYSICAL parquet types or the multi-path read breaks — an INSERT
    // must never silently migrate the table schema
    val aligned = rows.select(baseDf.columns.map(c =>
      col(c).cast(baseDf.schema(c).dataType).as(c)): _*)
    val dirName = writeSnapshot(spark, aligned, table, maxRecordsPerFile)
    // deferred deletes travel with the append (by sidecar NAME — the
    // sidecar is immutable): the new dir is outside every recorded
    // predicate's scope, so appended rows are never retro-deleted, while
    // the base dirs keep their filters
    // an active schema mapping travels the same way — by sidecar NAME:
    // the new dir was written in the LOGICAL shape and records NO
    // position entry; readers default an absent dir to the chain tip
    // (replay nothing), and the NEXT ALTER — the moment a position
    // starts to matter — pins it at the then-current length. One
    // sidecar thus serves every append at the same chain length
    // (drip-append ingest no longer accretes O(N²) sidecar bytes).
    // Publish with SEMANTIC REBASE (r15): a racing commit no longer
    // surfaces as a conflict — the dir list re-derives against the new
    // latest and the same written dir re-publishes there (guards and
    // soundness argument on [[publishAppendRebasing]]).
    val v = publishAppendRebasing(spark, table, base, dirName, batchId)
    // feed-enabled tables mirror the appended dir as upsert rows (the
    // mirror is one O(batch) copy, paid only when the table opted into
    // streaming CDC)
    mirrorIfEnabled(spark, table)
    v
  }

  /** Process-wide count of internally-resolved append conflicts (the
    * semantic-rebase tail below) — observability for the hammer and
    * tests; never read by the protocol itself.
    */
  private[graft] val appendRebases = new java.util.concurrent.atomic.AtomicLong

  /** The semantic-rebase publish tail of [[append]]: a BLIND append
    * derives nothing from its base beyond the dir list, so when a racer
    * wins the version slot, re-deriving the dir list against the new
    * latest and re-publishing the SAME already-written dir produces
    * exactly what a serial replay would have — the conflict resolves
    * INTERNALLY, with no snapshot rewrite and no caller retry (the Delta
    * logical-conflict-detection move, scoped to the verb where
    * non-overlap is provable by construction). The CoW verbs
    * (merge/update/delete/overwrite/optimize) deliberately DON'T rebase
    * even for provably-disjoint keys: they write FULL derived snapshots
    * — rebasing one onto a winner it never read would drop the winner's
    * rows wholesale (Delta can rebase disjoint merges only because its
    * merges commit delta files against a shared base, not snapshots);
    * their honest resolution stays conflict-and-rederive. Appends are
    * the verb where the snapshot IS the delta. At 100 TB this is the
    * difference between N drip-ingest writers throughput-capped by slot
    * serialization (HAMMER r14: 26× retry tax under contention) and N
    * writers whose appends all land first try.
    *
    * Rebase guards — the conflict re-raises to the caller when:
    *  - the winner changed the ACTIVE SCHEMA SIDECAR (compared by ref:
    *    an ALTER extended the chain, or a CoW verb materialized it) —
    *    our dir was written in the base's logical shape, and realigning
    *    to the new shape needs the caller's cast, so the append must
    *    re-run; refs equal ⇒ identical logical schema AND identical
    *    physical expectations for an appended dir;
    *  - a batch token is present and the new latest already carries it
    *    (the exactly-once check must re-run against what actually won);
    *  - latest did not advance (a foreign/corrupt slot, not a race).
    * Deferred deletes never block a rebase: the new latest's del sidecar
    * travels by name and our dir is outside every recorded predicate's
    * scope, same as a serial append.
    */
  private def publishAppendRebasing(spark: SparkSession, table: String,
      base: Long, dirName: String, batchId: Option[Long]): Long = {
    val (hfs, root) = fs(spark, table)
    var at = commitOf(hfs, root, table, base)
    val baseSchemaRef = at.schema
    while (true) {
      try {
        publish(spark, table, at.version + 1L, s"${at.dataDir};$dirName",
          batchId, op = "insert", delRef = at.del, schemaRef = at.schema)
        return at.version + 1L
      } catch {
        case e: CommitConflictException =>
          val cur =
            latestVersion(spark, table).flatMap(manifestOf(hfs, root, _))
          val rebasable = cur.exists(c => c.version > at.version &&
            c.schema == baseSchemaRef &&
            !(batchId.isDefined && c.batch == batchId))
          if (!rebasable) throw e
          appendRebases.incrementAndGet()
          at = cur.get
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The batch token the LATEST version was committed with (None for
    * non-stream commits). Read from the latest per-version manifest —
    * which always exists, because [[compactManifests]] keeps a hot tail
    * of ≥ 1 manifest.
    */
  def lastBatchId(spark: SparkSession, table: String): Option[Long] = {
    val (hfs, root) = fs(spark, table)
    latestVersion(spark, table)
      .flatMap(manifestOf(hfs, root, _, Map.empty)).flatMap(_.batch)
  }

  /** Exactly-once micro-batch upsert — the `foreachBatch` body of the
    * streaming→lakehouse bridge ([[graft.streaming.Streams]] wires it).
    * Structured Streaming replays a batch whose commit landed but whose
    * checkpoint write did not (at-least-once delivery); the batch token
    * pinned in the manifest turns that replay into a no-op, upgrading the
    * sink to exactly-once — Delta's txn-version idempotence, expressed on
    * this manifest layout. Returns the committed version, or None when
    * `batchId` is already the latest commit's token (replay).
    *
    * First batch on an empty table commits the source as snapshot v1;
    * later batches run [[mergeInto]] upserts (same contract: ≤ 1 source
    * row per key — pre-aggregate the stream; conditional deletes via
    * `deleteWhen`). One stream per table: the token check inspects only
    * the LATEST commit, so interleaved writers would defeat it (the same
    * single-writer rule every batch-id-idempotent sink has).
    */
  def mergeBatchIfNew(spark: SparkSession, table: String, source: DataFrame,
      key: String, batchId: Long,
      deleteWhen: org.apache.spark.sql.Column =
        org.apache.spark.sql.functions.lit(false)): Option[Long] =
    streamBatchIfNew(spark, table, batchId, source)(_ =>
      mergeInto(spark, table, source, key, deleteWhen,
        batchId = Some(batchId)))

  /** Exactly-once CDC-REPLICA micro-batch — the apply side of the
    * change-feed subscription ([[graft.streaming.Streams
    * .startVersionedReplicaSink]] wires it). Where [[mergeBatchIfNew]]'s
    * full-row upsert needs ≤ 1 source row per key, a feed micro-batch
    * legitimately spans SEVERAL upstream versions of the same key (the
    * file source groups whatever mirror dirs appeared since the last
    * trigger), so the replica applies changes VERSIONED: per key the
    * highest `version` row wins and a winning delete drops the key
    * ([[commitMerge]] semantics — use the feed's `_commit_version` as
    * the version column for upstream commit order). Replay no-ops via
    * the same manifest batch token; the first batch on an empty replica
    * bootstraps from the batch's own net state (so a key merged then
    * deleted entirely within the backlog never appears).
    */
  def replicaBatchIfNew(spark: SparkSession, table: String,
      changes: DataFrame, key: String, version: String, op: String,
      batchId: Long): Option[Long] = {
    def net: DataFrame = {
      val dataFields = changes.schema.fields
        .filterNot(f => f.name == version || f.name == op)
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(dataFields))
      graft.api.Graft.applyChanges(empty, changes, key, version, op)
    }
    streamBatchIfNew(spark, table, batchId, net)(_ =>
      commitMerge(spark, table, changes, key, version, op,
        batchId = Some(batchId)))
  }

  /** Reclaim storage from data dirs no manifest references — the orphans
    * the commit protocol deliberately leaves behind (crashed writers,
    * losing racers; see step 2 of the protocol above). Safe by the same
    * invariant that makes commits atomic: a version exists iff its
    * manifest exists, and manifests only ever name writer-unique dirs —
    * so an unreferenced dir can never BECOME referenced later, and no
    * reader can be inside one... except a writer between its data write
    * and its publish. `graceMs` covers exactly that window: only orphans
    * whose dir mtime is older than the grace survive deletion — set it
    * comfortably above the longest snapshot write (Delta's default
    * retention is 7 days for the same reason). Returns the deleted dir
    * names (relative, `data/<uuid>`) for the audit log. Metadata-only
    * except the deletes themselves: one manifest listing + one body read
    * per version + one `data/` listing.
    */
  def vacuum(spark: SparkSession, table: String, graceMs: Long): Seq[String] = {
    // grace 0 would widen the TOCTOU window below from "writers slower
    // than the grace" to "every in-flight writer" — refuse it
    require(graceMs > 0, s"graceMs must be > 0: $graceMs")
    val (hfs, root) = fs(spark, table)
    def referenced(): Set[String] = {
      // one checkpoint read per pass, shared across versions; re-loaded
      // on the second pass so a compaction racing the vacuum cannot hide
      // a version behind a manifest it just retired
      val cp = checkpointOf(hfs, root)
      versions(spark, table)
        .flatMap(v => manifestOf(hfs, root, v, cp))
        .flatMap(m => splitDirs(m.dataDir))
        // a dir referenced only through kept-FILE tokens (file-granular
        // CoW) is referenced, full stop — normalizing to the scope keeps
        // it out of the reclaim candidates
        .map(dirScopeOf).toSet
    }
    val cutoff = System.currentTimeMillis() - graceMs
    // stale publish temps (writers that crashed between temp write and
    // rename) reclaim under the same grace; never visible to readers
    val mDir = new Path(root, "_manifests")
    if (hfs.exists(mDir)) hfs.listStatus(mDir).iterator
      .filter(st => st.getPath.getName.startsWith(".tmp-"))
      .filter(_.getModificationTime < cutoff)
      .foreach(st => hfs.delete(st.getPath, false))
    // stale change-feed mirror temps (writers that crashed mid-mirror)
    // reclaim the same way; committed v<NNNNNNNN> feed dirs never match
    val cdfDir = new Path(root, cdfDirName)
    if (hfs.exists(cdfDir)) hfs.listStatus(cdfDir).iterator
      .filter(st => st.getPath.getName.startsWith(".tmp-"))
      .filter(_.getModificationTime < cutoff)
      .foreach(st => hfs.delete(st.getPath, true))
    // EXPIRED versions' feed batches reclaim HERE, not at expiry time
    // (r15): expiry retires metadata only, so a lagging subscriber keeps
    // a catch-up window as wide as this grace; vacuum completes the
    // documented expire-then-vacuum right-to-be-forgotten lifecycle. A
    // feed dir is reclaimable when its version is no longer committed
    // and it is older than the grace.
    if (hfs.exists(cdfDir)) {
      val live = versions(spark, table).toSet
      hfs.listStatus(cdfDir).iterator
        .filter { st =>
          val n = st.getPath.getName
          n.matches("v\\d+") && !live.contains(n.stripPrefix("v").toLong) &&
            st.getModificationTime < cutoff
        }
        .foreach(st => hfs.delete(st.getPath, true))
    }
    // stale constraint-generation temps (writers that crashed between
    // temp write and promote); g<NNNNNNNN>.json generations never match
    val consDir = new Path(root, constraintsDirName)
    if (hfs.exists(consDir)) hfs.listStatus(consDir).iterator
      .filter(st => st.getPath.getName.startsWith(".tmp-"))
      .filter(_.getModificationTime < cutoff)
      .foreach(st => hfs.delete(st.getPath, false))
    val dataDir = new Path(root, "data")
    if (!hfs.exists(dataDir)) return Seq.empty
    val referencedAtListing = referenced()
    val candidates = hfs.listStatus(dataDir).iterator
      .filter(_.isDirectory)
      .filter(st => !referencedAtListing.contains(s"data/${st.getPath.getName}"))
      .filter(_.getModificationTime < cutoff)
      .toSeq
    if (candidates.isEmpty)
      return vacuumFiles(spark, table, hfs, root, cutoff)
    // TOCTOU guard: a writer whose snapshot write OUTLIVED the grace can
    // publish between the listing above and the deletes below — its dir
    // would be "orphaned by mtime" yet newly referenced. Re-read the
    // manifest set after candidate selection so a freshly committed dir
    // is never deleted; the race window shrinks from the whole listing
    // pass to the re-list→delete gap (the mtime grace still covers
    // writers inside it).
    val committed = referenced()
    val dirReclaimed = candidates.iterator
      .filter(st => !committed.contains(s"data/${st.getPath.getName}"))
      // only dirs the filesystem CONFIRMS deleted enter the audit list —
      // several FileSystem impls return false instead of throwing, and
      // reporting a still-present dir as reclaimed would corrupt the audit
      .flatMap { st =>
        if (hfs.delete(st.getPath, true)) Some(s"data/${st.getPath.getName}")
        else None
      }
      .toSeq.sorted
    dirReclaimed ++ vacuumFiles(spark, table, hfs, root, cutoff)
  }

  /** FILE-LEVEL reclaim inside PARTIALLY-referenced dirs (r17): after a
    * file-granular verb rewrites part of a dir, the replaced files stay
    * on disk — correctly, while any whole-dir version still lives — but
    * once expiry retires every version that referenced them, dir-level
    * vacuum keeps the whole dir ("referenced, full stop") and the dead
    * bytes leak until an OPTIMIZE. This pass resolves every live
    * version's per-scope file set through the SAME [[groupRestriction]]
    * seam the read path uses and deletes the files of a managed, only-
    * partially-referenced dir that NO live version resolves to.
    *
    * Sound against the token grammar by construction: a kept-FILE token
    * names its file outright, and an EXCLUSION token's restriction is
    * `listing minus exclusions` — a file deletable here is, in every
    * referencing version, either excluded or absent from the kept list,
    * so removing it from the listing never changes any version's
    * resolved set (SinksSpec asserts reads are identical before/after).
    * Only managed `data/` scopes participate — adopted/cloned foreign
    * dirs are never touched, exactly like the dir-level pass. Same
    * two-pass TOCTOU shape: candidates re-validate against a fresh
    * manifest read before deletion (a racing granular verb only ever
    * references files its LIVE base resolves, so a file unreferenced on
    * both passes cannot be newly referenced in between).
    */
  private def vacuumFiles(spark: SparkSession, table: String,
      hfs: FileSystem, root: Path, cutoff: Long): Seq[String] = {
    // scope -> None (some live version references the WHOLE dir — out of
    // scope here) | Some(files some live version resolves to)
    val listCache = scala.collection.mutable.Map.empty[String, Seq[String]]
    def liveRefs(): Map[String, Option[Set[String]]] = {
      val cp = checkpointOf(hfs, root)
      val acc =
        scala.collection.mutable.Map.empty[String, Option[Set[String]]]
      versions(spark, table).foreach { v =>
        manifestOf(hfs, root, v, cp).foreach { m =>
          groupTokensByScope(splitDirs(m.dataDir)).foreach {
            case (scope, toks) =>
              if (!acc.get(scope).contains(None)) {
                groupRestriction(hfs, root, scope, toks, listCache) match {
                  case None => acc(scope) = None
                  case Some(files) =>
                    acc(scope) = Some(acc.get(scope).flatten
                      .getOrElse(Set.empty) ++ files)
                }
              }
          }
        }
      }
      acc.toMap
    }
    def orphansOf(refs: Map[String, Option[Set[String]]])
        : Map[String, Set[String]] =
      refs.collect {
        case (scope, Some(live))
            if scope.startsWith("data/") &&
              hfs.exists(new Path(root, scope)) =>
          scope -> hfs.listStatus(new Path(root, scope)).iterator
            .filter(st => st.getPath.getName.endsWith(".parquet"))
            .filter(!_.isDirectory)
            .filter(_.getModificationTime < cutoff)
            .map(_.getPath.getName).filterNot(live).toSet
      }.filter(_._2.nonEmpty)
    val first = orphansOf(liveRefs())
    if (first.isEmpty) return Seq.empty
    // TOCTOU re-validation, same shape as the dir pass
    val second = liveRefs()
    first.iterator.flatMap { case (scope, names) =>
      second.get(scope) match {
        case Some(Some(liveNow)) =>
          names.filterNot(liveNow).iterator.flatMap { n =>
            if (hfs.delete(new Path(root, s"$scope/$n"), false))
              Some(s"$scope/$n")
            else None
          }
        case _ => Iterator.empty // whole-dir referenced now, or gone
      }
    }.toSeq.sorted
  }

  /** Compact the manifest log — the Delta-checkpoint move for long
    * version chains. Folds every committed (version → dir) pair into one
    * `_manifests/checkpoint-v<latest>.json`, then retires the per-version
    * manifests it folded (keeping the newest `keepRecent` as a hot tail),
    * plus any older checkpoint the new one subsumes. After compaction,
    * version discovery and vacuum read ONE checkpoint body + the recent
    * tail instead of one body per version — a million-commit table's
    * metadata ops stay O(tail), and time travel still reaches every
    * version ([[MetaCodec.manifestOf]] falls back to the checkpoint).
    *
    * Concurrency, by the same put-if-absent primitive as [[publish]]:
    * the checkpoint is created with overwrite=false at the CURRENT latest
    * version — two racing compactions at the same latest produce one
    * winner and one clean no-op; a commit racing PAST latest is untouched
    * (its manifest is newer than the checkpoint and survives retirement).
    * Retirement deletes only manifests already folded into the by-then
    * durable checkpoint, so no reader can ever fail to resolve a version.
    * Returns the number of per-version manifests retired.
    */
  def compactManifests(spark: SparkSession, table: String,
      keepRecent: Int = 8): Int = {
    // >= 1: the LATEST version's manifest must survive compaction — it
    // carries the batch token [[lastBatchId]] reads for streaming
    // exactly-once (and keeps "what just happened" one body-read away)
    require(keepRecent >= 1, s"keepRecent must be >= 1: $keepRecent")
    val (hfs, root) = fs(spark, table)
    val vs = versions(spark, table)
    if (vs.isEmpty) return 0
    val latest = vs.last
    val target = checkpointPath(root, latest)
    if (hfs.exists(target)) return 0 // already compacted at this version
    val body = checkpointBody(hfs, root, vs)
    // TWO-PHASE atomic promote, exactly like the manifest publish: the
    // old create-then-write exposed a zero-byte window a concurrent
    // publish's folded-horizon read could OPEN — an empty checkpoint map
    // reads as horizon 0, disarming the recycled-slot guard, and a stale
    // pinned publish could then double-claim a retired slot (the repro
    // fleet caught exactly this as a lost update: `preId=Some(N)
    // horizon=0` in the claim trace). A checkpoint must be born complete.
    val cpTmp = new Path(root, s"_manifests/.tmp-${UUID.randomUUID}")
    if (!putIfAbsentFile(spark, hfs, cpTmp, target,
        body.getBytes(StandardCharsets.UTF_8)))
      return 0 // racing compaction won — no-op
    // the checkpoint is durable: retire what it folded
    retireCheckpoints(hfs, root, latest)
    vs.dropRight(keepRecent).count { v =>
      val m = manifestPath(root, v)
      // del-/schema-carrying manifests retire like any other (r14): the
      // checkpoint written above folded their sidecar REFS next to the
      // dirs, so delStateOf/schemaStateOf keep answering for folded
      // versions — previously these manifests were permanently exempt,
      // an unbounded un-compactable listing on drip-append evolved
      // tables. The sidecar FILES themselves are immutable _manifests
      // residents no GC touches.
      hfs.exists(m) && hfs.delete(m, false)
    }
  }

  /** The checkpoint body folding versions `vs`: each one's dir and
    * sidecar refs, from its live manifest or — already folded — from
    * the newest checkpoint, so refs survive every compaction generation.
    */
  private def checkpointBody(hfs: FileSystem, root: Path,
      vs: Seq[Long]): String = {
    val cp = checkpointOf(hfs, root)
    MetaCodec.encodeCheckpoint(vs.flatMap(v => manifestOf(hfs, root, v, cp)
      .map(m => CheckpointEntry(v, m.dataDir, m.del, m.schema))))
  }

  /** Delete the checkpoints older than `keep`, except the newest of them:
    * a reader that listed just before `keep` landed may be about to open
    * it ([[MetaCodec.checkpointOf]]'s retry covers the double race).
    */
  private def retireCheckpoints(hfs: FileSystem, root: Path,
      keep: Long): Unit =
    checkpointIds(hfs, root).filter(_ != keep).dropRight(1)
      .foreach(id => hfs.delete(checkpointPath(root, id), false))

  /** Incrementally maintain a keyed COUNT/SUM rollup of `baseTable` in
    * `targetTable` (columns: keys…, `n`, `sum_<c>`…), driven by the
    * write-time change feed: only the keys the versions since the last
    * refresh actually touched are re-aggregated — one scan of the current
    * snapshot FILTERED to the affected keys, so refresh cost scales with
    * CHURN, not table size (the point of maintaining a rollup at 100 TB;
    * with a Bloom/zone sidecar on the key, even the snapshot files the
    * churn missed stay unopened). No delta subtraction is needed — a
    * keyed group's rollup at the current version IS its new value, and
    * untouched keys are untouched — so the incremental result is exactly
    * the full recompute, not an approximation of it. "Touched" includes
    * PRE-image groups: when the rollup key differs from the merge key the
    * table is identified by, a change row can MOVE a row across groups
    * (or a delete row can carry a stale group value), so the feed's
    * post-image keys alone would leave the old group stale — each pending
    * version's change batch is merge-key semi-joined against its
    * predecessor snapshot (the manifest records the merge key) and those
    * rows' group values union into the re-aggregated set; small-churn
    * batches (≤ [[MaxInListSkip]] keys) probe the predecessor through
    * the Bloom/zone-pruned read instead, so drip refreshes never scan it.
    *
    * Correctness fallbacks: the first refresh, and any version range
    * containing a commit WITHOUT a change feed (full snapshot commit,
    * OPTIMIZE, DML rewrite), re-aggregate everything — never trust a
    * feed that does not cover the range. The applied base version rides
    * the target's manifest batch token, so replays are no-ops
    * (exactly-once, same mechanism as the streaming sink). Returns the
    * target version committed, or None when already current. Affected
    * keys whose groups vanished are deleted from the rollup.
    */
  /** How one pending version proves its delta to [[refreshRollup]]. */
  private sealed trait RollupDelta
  private final case class AppendDelta(newDir: String) extends RollupDelta
  private final case class MergeDelta(mergeKey: String) extends RollupDelta
  private case object LazyDeleteDelta extends RollupDelta
  private case object EmptyDelta extends RollupDelta

  def refreshRollup(spark: SparkSession, baseTable: String,
      targetTable: String, keys: Seq[String],
      sumCols: Seq[String],
      minCols: Seq[String] = Nil,
      maxCols: Seq[String] = Nil): Option[Long] = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
    require(keys.nonEmpty, "refreshRollup needs at least one key column")
    val cur = latestVersion(spark, baseTable).getOrElse(
      throw new IllegalArgumentException(s"$baseTable has no versions"))
    val applied = lastBatchId(spark, targetTable)
    if (applied.contains(cur)) return None
    val (hfs, _) = fs(spark, baseTable)
    val baseRoot = new Path(baseTable)

    // MIN/MAX ride the SAME churn-bound path as COUNT/SUM (r14): the
    // refresh never subtracts deltas — every touched group re-aggregates
    // from the current snapshot — so non-invertible aggregates are just
    // more columns, and deletes shrinking a group's extremum stay exact
    def aggOf(df: DataFrame): DataFrame =
      df.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n"),
          sumCols.map(c => sum(col(c)).as(s"sum_$c")) ++
            minCols.map(c => min(col(c)).as(s"min_$c")) ++
            maxCols.map(c => max(col(c)).as(s"max_$c")): _*)

    val snapshot = readVersion(spark, baseTable, cur)
    val pending = applied.map(a => ((a + 1L) to cur).toSeq).getOrElse(Seq.empty)
    // composite rollups ride the same incremental path (r13): the target
    // maintains by mergeIntoKeys over the key TUPLE, and every delta
    // frame below selects all key columns — arity changes the shuffle
    // expression, never the number of passes
    val keyCols = keys.map(col)
    // Each pending version must prove its DELTA:
    //  - an appended version's delta IS its newly written dir (appends
    //    replace no rows, so no pre-image groups exist), provided the
    //    rollup key is in its schema;
    //  - a merge version needs its change feed, its recorded merge key,
    //    the rollup key as a feed data column, and — when the merge key
    //    is NOT the rollup key — its PREDECESSOR snapshot (pre-image
    //    recovery reads v-1) carrying both columns;
    //  - a deferred-delete version's delta is its SYNTHESIZED feed
    //    ([[lazyDeleteChanges]]: the rows the new predicate removed from
    //    v-1) — deletions only, so every touched group value comes from
    //    an actual stored row (pre-image by construction, no stale-group
    //    hazard); needs v-1 resolvable and a synthesizable schema.
    // Any gap means the range cannot be proven, so recompute everything —
    // never trust a feed that does not cover the range.
    val deltaInfo: Seq[Option[(Long, RollupDelta)]] =
      pending.map { v =>
        manifestOf(hfs, baseRoot, v).flatMap { m =>
          val newDir = splitDirs(m.dataDir).last
          lazy val prev = manifestOf(hfs, baseRoot, v - 1L)
          if (m.op.contains("insert")) {
            val cols = footerSchema(spark,
              new Path(baseRoot, newDir)).fieldNames.toSet
            if (keys.forall(cols.contains)) Some((v, AppendDelta(newDir)))
            else None
          } else if (m.op.contains("lazydelete")) {
            if (prev.isDefined &&
                !snapshot.columns.contains("__ver") &&
                !snapshot.columns.contains("__op"))
              Some((v, LazyDeleteDelta))
            else None
          } else if (m.op.contains("schema")) {
            // a schema-evolution version changed ZERO rows — an empty
            // delta keeps the refresh incremental, provided the op(s) it
            // added leave the rollup's own columns untouched (a
            // rename/drop of a key or summed column changes the rollup's
            // SHAPE — fall back to the wholesale recompute, which
            // absorbs the new names). An expired predecessor makes the
            // added-suffix read conservative (the whole chain), which
            // can only widen the fallback, never miss a touched column.
            val prior = prev.map(schemaStateOf(hfs, baseRoot, _))
              .getOrElse(emptyChain).ops.length
            val added = schemaStateOf(hfs, baseRoot, m).ops.drop(prior)
            val watched = (keys ++ sumCols ++ minCols ++ maxCols).toSet
            if (added.forall(o =>
                !watched.contains(o.name) && !watched.contains(o.to)))
              Some((v, EmptyDelta))
            else None
          } else if (!hfs.exists(
              new Path(new Path(baseRoot, newDir), changesDirName))) None
          else m.key.flatMap { mk =>
            val feedCols = readChanges(spark, baseTable, v).columns.toSet
            // pre-image recovery is unnecessary exactly when the rollup
            // is keyed by the merge identity itself (a row can then
            // never change group without being a feed post-image)
            val preOk = keys == Seq(mk) || (prev.isDefined && {
                val prevCols =
                  readVersion(spark, baseTable, v - 1L).columns.toSet
                prevCols.contains(mk) && keys.forall(prevCols.contains)
              })
            if (keys.forall(feedCols.contains) && feedCols.contains(mk) &&
                preOk)
              Some((v, MergeDelta(mk)))
            else None
          }
        }
      }
    val plan: Option[Seq[(Long, RollupDelta)]] =
      if (pending.nonEmpty && deltaInfo.forall(_.isDefined))
        Some(deltaInfo.flatten)
      else None
    val feedsCover = plan.isDefined
    val fresh = plan match {
      case None => aggOf(snapshot) // first refresh / uncovered range
      case Some(entries) =>
        val touched = entries.map {
          case (_, AppendDelta(newDir)) =>
            // appended delta: the new dir's rows are exactly the change
            parquetOf(spark, new Path(baseRoot, newDir).toString)
              .select(keyCols: _*)
          case (v, LazyDeleteDelta) =>
            // deferred delete: the synthesized feed names the touched
            // groups exactly (the deleted rows' own group values)
            readChanges(spark, baseTable, v).select(keyCols: _*)
          case (_, EmptyDelta) =>
            // schema-evolution version: zero rows touched
            snapshot.select(keyCols: _*).limit(0)
          case (v, MergeDelta(mk)) =>
          val feed = readChanges(spark, baseTable, v)
          val post = feed.select(keyCols: _*)
          if (keys == Seq(mk)) post
          else {
            // PRE-image groups: the stored rows this batch replaced or
            // deleted may sit in a DIFFERENT group than the change rows
            // claim (a CDC update moving a row across groups, a delete
            // row carrying a stale group value) — without them the OLD
            // group's aggregate would silently stay stale and the
            // "incremental == full recompute" contract would break.
            // Recovery reads the predecessor snapshot, two-tier:
            //  - small churn (≤ MaxInListSkip distinct merge keys): the
            //    keys collect (bounded) into a ColumnIn probe through
            //    [[readVersionPruned]] — with a Bloom/zone sidecar on
            //    the merge key, untouched files never open, so a drip
            //    refresh stays metadata-cheap;
            //  - large churn: one merge-keyed semi-join against the
            //    v-1 snapshot, column-pruned to (merge key, rollup key)
            //    — a scan-speed pass, proportionate when the batch
            //    touched a large fraction of the table anyway.
            val keyVals = feed.select(col(mk)).distinct()
              .limit(MaxInListSkip + 1).collect().map(_.get(0)).toSeq
            val pre =
              if (keyVals.isEmpty) post.limit(0) // empty change batch
              else if (keyVals.size <= MaxInListSkip)
                // the IN-list residual filter IS the semi-join here
                readVersionPruned(spark, baseTable, v - 1L, Nil, Nil,
                    Seq(ColumnIn(mk, keyVals)))
                  .select(keyCols: _*)
              else readVersion(spark, baseTable, v - 1L)
                .select((keys :+ mk).distinct.map(col): _*)
                .join(feed.select(col(mk)).distinct(), Seq(mk), "left_semi")
                .select(keyCols: _*)
            post.unionByName(pre)
          }
        }.reduce(_ unionByName _).distinct()
        // affected keys present at cur re-aggregate; the rest DELETE
        aggOf(snapshot.join(touched, keys, "left_semi"))
          .join(touched, keys, "right_outer")
          .na.fill(0L, Seq("n"))
    }
    latestVersion(spark, targetTable) match {
      case None =>
        Some(commitPinned(spark, fresh.where(col("n") > 0L), targetTable,
          base = 0L, op = "rollup", batchId = Some(cur)))
      case Some(tv) if !feedsCover =>
        // full recompute replaces the rollup wholesale; pinned at the
        // target version observed above, so a racing maintainer raises
        // a conflict instead of being clobbered
        Some(commitPinned(spark, fresh.where(col("n") > 0L), targetTable,
          base = tv, op = "rollup", batchId = Some(cur)))
      case Some(_) =>
        Some(mergeIntoKeys(spark, targetTable, fresh,
          keys, deleteWhen = col("n") === 0L,
          batchId = Some(cur)))
    }
  }

  /** Roll the table back to `version` by committing that snapshot's
    * contents as a NEW latest version (op "restore") — history moves only
    * forward, so the bad versions stay inspectable until [[expireVersions]]
    * retires them, and concurrent readers of the old latest are
    * undisturbed. The restored version must still exist (not expired).
    * Base-pinned like the DML verbs: a commit racing the restore raises
    * [[CommitConflictException]] (re-examine whether rolling back is
    * still what you want, then retry) instead of being silently stomped
    * by old data.
    */
  def restore(spark: SparkSession, table: String, version: Long): Long = {
    val base = latestOrFail(spark, table)
    commitPinned(spark, readVersion(spark, table, version), table, base,
      op = "restore")
  }

  /** Physically EXPIRE every version but the newest `keepLast`: after
    * this, the expired versions no longer exist (time travel to them
    * throws) and their data dirs become unreferenced — [[vacuum]]
    * reclaims the bytes once the grace passes. This is the data-lifecycle
    * half "time travel forever" otherwise blocks: a deleted row is only
    * GONE (right-to-be-forgotten) once the versions that contained it are
    * expired AND vacuumed; [[compactManifests]] shrinks the log but keeps
    * every version readable — this retires the versions themselves.
    *
    * Mechanism (ordered so a crash anywhere leaves every KEPT version
    * resolvable and at worst some expired versions still alive — rerun):
    *  1. write a checkpoint carrying ONLY the kept (version → dir) pairs,
    *     stamped STRICTLY NEWER than every existing checkpoint (and than
    *     `latest`, so it wins the newest-checkpoint read even against a
    *     checkpoint a racing compaction writes at `latest`) — put-if-
    *     absent, bumping the stamp on collision;
    *  2. delete the expired versions' per-version manifests (resolution
    *     is manifest-first, so an expired version stays readable until
    *     its manifest is gone — crash = incomplete expiry, not loss);
    *  3. retire older checkpoints, keeping one predecessor (the same
    *     policy as compaction — its reader-retry covers the swap).
    *
    * A stamp can land on a version number a later compaction would use;
    * that compaction then no-ops once and runs at the next commit —
    * benign. Concurrent readers mid-read of an expiring version fail
    * once its manifest drops or vacuum reclaims its dir — inherent to
    * erasure (Delta's VACUUM has the same property). Returns the expired
    * version numbers.
    */
  def expireVersions(spark: SparkSession, table: String,
      keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1: $keepLast")
    val (hfs, root) = fs(spark, table)
    val vs = versions(spark, table)
    val dropped = vs.dropRight(keepLast)
    if (dropped.isEmpty) return Seq.empty
    // kept versions carry their sidecar refs into the expiry checkpoint,
    // same as compaction's (a kept version may itself be folded later)
    val body = checkpointBody(hfs, root, vs.takeRight(keepLast))
    val existingStamps = checkpointIds(hfs, root).lastOption.getOrElse(0L)
    var stamp = math.max(vs.last, existingStamps) + 1L
    var written = false
    while (!written) {
      val target = checkpointPath(root, stamp)
      // two-phase atomic promote (the compactManifests fix applies here
      // too): an expiry checkpoint must never be readable half-written —
      // its body IS the surviving version set
      val cpTmp = new Path(root, s"_manifests/.tmp-${UUID.randomUUID}")
      if (putIfAbsentFile(spark, hfs, cpTmp, target,
          body.getBytes(StandardCharsets.UTF_8)))
        written = true
      else stamp += 1L // racing stamper — bump
    }
    dropped.foreach { v =>
      val m = manifestPath(root, v)
      if (hfs.exists(m)) hfs.delete(m, false)
      // the expired version's _cdf mirror dir is deliberately NOT
      // deleted here (r15): expiry is the LOGICAL retirement — a feed
      // subscriber lagging behind the retention window keeps its
      // catch-up window until [[vacuum]]'s grace expires (the r15 hammer
      // caught the old immediate delete as a replica that could
      // permanently lose a batch it had not yet consumed). Physical
      // erasure — the right-to-be-forgotten step — stays the documented
      // expire-THEN-vacuum pairing: vacuum reclaims feed dirs of
      // no-longer-committed versions past its grace.
    }
    retireCheckpoints(hfs, root, stamp)
    dropped
  }

  /** Adopt an EXISTING parquet directory as version 1 of a fresh table
    * WITHOUT copying a byte (the CONVERT TO DELTA move): the manifest
    * simply names the source dir by absolute path, so onboarding 100 TB
    * of plain parquet costs one metadata write, not a rewrite. The
    * adopted dir is REFERENCED, not managed:
    *
    *  - [[vacuum]] never touches it (it reclaims only unreferenced dirs
    *    under the table's own `data/`), so an accidental DROP cannot
    *    erase the original data;
    *  - the first copy-on-write verb (merge/DML/[[optimize]]) rewrites
    *    into a managed writer-unique dir, after which the table is fully
    *    self-contained — run `OPTIMIZE` to take ownership eagerly;
    *  - [[append]]s reference the adopted dir alongside their own new
    *    managed dirs; [[ensureStats]] can backfill a skipping sidecar
    *    into the adopted dir (an underscore-invisible addition).
    *
    * The path must not contain `;` or `"` (manifest-body delimiters).
    */
  def convert(spark: SparkSession, table: String, sourceDir: String): Long = {
    require(latestVersion(spark, table).isEmpty,
      s"$table already has committed versions — convert only bootstraps")
    require(!sourceDir.contains(";") && !sourceDir.contains("\"") &&
      !sourceDir.contains("!"),
      s"source path must not contain ';', '\"' or '!': $sourceDir")
    // grammar invariant: a whole-DIR token must never end in ".parquet" —
    // [[isFileToken]] classifies by that suffix, so a foreign dir named
    // `events.parquet` (a common layout) would be misparsed as a
    // kept-FILE token: dirScopeOf would return its PARENT, the granular
    // verbs' probe would map touched files against the wrong scope and
    // silently publish a no-op version (a lost update), and deferred-
    // delete predicates recorded against the full dir token would stop
    // resolving. Rejecting here (like the ';'/'!' guards) keeps the
    // token grammar unambiguous by construction; the workaround for a
    // `*.parquet`-named source dir is a rename or a plain commit().
    require(!sourceDir.stripSuffix("/").endsWith(".parquet"),
      s"source DIR name must not end in '.parquet' (it would be " +
        s"indistinguishable from a kept-file manifest token): $sourceDir")
    val (hfs, root) = fs(spark, table)
    val src = new Path(sourceDir)
    val abs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(src)
    require(hfs.exists(abs) && hfs.getFileStatus(abs).isDirectory,
      s"source dir does not exist: $abs")
    // the managed data/ namespace is off-limits as a SOURCE: vacuum
    // compares managed candidates by their "data/<name>" relative form,
    // so an absolute reference INTO data/ would read as unreferenced and
    // the adopted bytes could be reclaimed out from under the table
    val managed = hfs.makeQualified(new Path(root, "data")).toString
    require(!(abs.toString + "/").startsWith(managed + "/"),
      s"source dir must not live under the table's managed data/ " +
        s"namespace: $abs")
    // it must actually read as parquet before it becomes a version
    footerSchema(spark, abs)
    hfs.mkdirs(root)
    publish(spark, table, 1L, abs.toString, op = "convert")
    1L
  }

  /** Zero-copy SHALLOW CLONE: bootstrap `targetTable` as a new versioned
    * table whose v1 references `sourceTable`'s data dirs (of `version`,
    * default latest) BY NAME — one manifest write and two small metadata
    * copies, no data movement, which is what makes forking a 100 TB
    * table for an experiment instant. The clone then evolves
    * independently: its first copy-on-write verb (merge/DML/OPTIMIZE)
    * rewrites into its own managed dirs, taking ownership of what it
    * touched; appends reference source dirs alongside new managed ones.
    * CHECK constraints and the skipping policy are cloned (the sidecar
    * `_stats` indexes live INSIDE the data dirs, so pruned reads work on
    * the clone for free); version HISTORY is not — the clone starts at
    * v1, and time travel into pre-clone states happens on the source.
    *
    * Retention caveat (inherent to shallow clones, as in Delta):
    * [[vacuum]] on the CLONE can never reclaim source bytes (absolute
    * references are not candidates in the clone's managed namespace),
    * but [[expireVersions]] + [[vacuum]] on the SOURCE can reclaim dirs
    * the clone still references — the source does not know its clones.
    * Run `OPTIMIZE` on the clone to take full ownership before loosening
    * the source's retention.
    */
  def shallowClone(spark: SparkSession, targetTable: String,
      sourceTable: String, version: Option[Long] = None): Long = {
    require(latestVersion(spark, targetTable).isEmpty,
      s"$targetTable already has committed versions — clone only " +
        "bootstraps")
    val v = version.getOrElse(latestOrFail(spark, sourceTable))
    val dirs = dataPathsOf(spark, sourceTable, v).map(_.toString)
    require(dirs.forall(d => !d.contains(";") && !d.contains("\"")),
      s"source data paths must not contain ';' or '\"'")
    // exclusion tokens survive absolutization (dirScopeOf splits at '!'
    // after the Path prefix), but the SCOPE itself must not contain '!'
    require(dirs.map(dirScopeOf).forall(!_.contains("!")),
      "source data dir names must not contain '!'")
    // same grammar invariant as [[convert]]: a whole-DIR token ending in
    // ".parquet" would misparse as a kept-file token on the clone
    // (legitimate file tokens from the source's granular verbs DO end in
    // .parquet and absolutize correctly — only whole-dir scopes are at
    // risk, and only if the source predates the convert-side guard)
    require(dirs.forall(d => isFileToken(d) || isExclToken(d) ||
        !d.stripSuffix("/").endsWith(".parquet")),
      "source whole-dir token names must not end in '.parquet'")
    val (hfs, tgtRoot) = fs(spark, targetTable)
    val (srcFs, srcRoot) = fs(spark, sourceTable)
    require(tgtRoot.toString != srcRoot.toString,
      s"cannot clone a table onto itself: $srcRoot")
    // same reclaim argument as [[convert]]: the clone must not live
    // under the source's managed data/ namespace (the source's vacuum
    // would read the clone's tree as an unreferenced orphan), and
    // vice versa (the clone's vacuum compares managed candidates by
    // relative name, so absolute refs INTO its own data/ would be
    // reclaimable)
    require(!(tgtRoot.toString + "/")
        .startsWith(srcRoot.toString + "/data/"),
      s"clone target must not live under the source's managed data/ " +
        s"namespace: $tgtRoot")
    require(dirs.forall(d =>
        !(d + "/").startsWith(tgtRoot.toString + "/data/")),
      "source data dirs must not live under the clone's managed data/ " +
        "namespace")
    hfs.mkdirs(tgtRoot)
    // clone table-level metadata so the target's FUTURE commits behave
    // like the source's: CHECK constraints gate, the skipping policy
    // indexes. Copied BEFORE publish — a clone is never visible without
    // its constraints. Constraints copy by RESOLVED state (the newest
    // generation or the legacy file, whichever governs the source) into
    // the clone's own first generation.
    Seq("_skipping.json").foreach { f =>
      val src = new Path(srcRoot, f)
      if (hfs.exists(src))
        org.apache.hadoop.fs.FileUtil.copy(hfs, src, hfs,
          new Path(tgtRoot, f), /* deleteSource = */ false,
          spark.sparkContext.hadoopConfiguration)
    }
    val srcConstraints = constraintsOf(spark, sourceTable)
    if (srcConstraints.nonEmpty)
      setConstraints(spark, targetTable, srcConstraints.toMap)
    // deferred deletes travel with the clone, rewritten to the ABSOLUTE
    // dir names this manifest uses (the source recorded them relative to
    // ITS root — the raw strings must match what splitDirs yields here)
    val srcM = commitOf(srcFs, srcRoot, sourceTable, v)
    val srcState = delStateOf(srcFs, srcRoot, srcM)
    val delRef =
      if (srcState.isEmpty) None
      else Some(writeDelSidecar(spark, targetTable, srcState.map(p =>
        p.copy(dirs = p.dirs.map(d => new Path(srcRoot, d).toString)))))
    // an active schema mapping travels the same way, into the clone's
    // OWN sidecar (the source's lives under its _manifests/) — with the
    // position keys rewritten to the ABSOLUTE dir names this manifest
    // uses, exactly like the del-state dirs above
    val srcChain = schemaStateOf(srcFs, srcRoot, srcM)
    val schemaRef =
      if (srcChain.isEmpty) None
      else Some(writeSchemaSidecar(spark, targetTable,
        SchemaChain(srcChain.ops, srcChain.pos.map { case (d, k) =>
          new Path(srcRoot, d).toString -> k
        }, srcChain.fmt))) // fmt travels: a legacy source clones legacy
    publish(spark, targetTable, 1L, dirs.mkString(";"), op = "clone",
      delRef = delRef, schemaRef = schemaRef)
    1L
  }

  /** [[expireVersions]] by AGE: retire every version whose manifest is
    * older than `maxAgeMs` (always keeping at least the newest version,
    * and never expiring a version newer than a kept one — the chain
    * stays a contiguous suffix). Versions already folded into a
    * checkpoint (their per-version manifests retired by
    * [[compactManifests]]) count as old — they are the oldest of the
    * chain by construction. The standard retention spelling
    * (`EXPIRE VERSIONS ... OLDER THAN n HOURS`): pair with [[vacuum]]
    * for physical erasure, same as count-based expiry.
    */
  def expireVersionsOlderThan(spark: SparkSession, table: String,
      maxAgeMs: Long): Seq[Long] = {
    require(maxAgeMs >= 0, s"maxAgeMs must be >= 0: $maxAgeMs")
    val (hfs, root) = fs(spark, table)
    val vs = versions(spark, table)
    if (vs.size <= 1) return Seq.empty
    val cutoff = System.currentTimeMillis() - maxAgeMs
    def isOld(v: Long): Boolean = {
      val m = manifestPath(root, v)
      if (hfs.exists(m)) hfs.getFileStatus(m).getModificationTime < cutoff
      else true // checkpoint-folded = oldest of the chain
    }
    // contiguous old PREFIX only: a young version never expires because
    // an older one does, and an old version survives if any version
    // before it is young (can't happen with monotone commit times, but
    // clock skew must degrade to keeping more, never less)
    val oldPrefix = vs.dropRight(1).takeWhile(isOld)
    if (oldPrefix.isEmpty) Seq.empty
    else expireVersions(spark, table, keepLast = vs.size - oldPrefix.size)
  }

  // ----- data skipping (zone-map sidecar + pruned reads) ---------------

  /** An inclusive range predicate `lower <= column <= upper` for
    * [[readVersionPruned]]; either bound may be open. Values go through
    * `lit`, so use the column's native Scala type (Long, Double, String,
    * java.sql.Timestamp, ...).
    */
  final case class ColumnBounds(column: String,
      lower: Option[Any] = None, upper: Option[Any] = None)

  /** An equality predicate `column = value` for [[readVersionPruned]]:
    * files are skipped via the column's per-file Bloom filter when the
    * sidecar carries one (see `bloomCols` on [[commit]]), else via its
    * zone map as the point range [value, value], else not at all (the
    * residual row filter still applies). Same typing rule as
    * [[ColumnBounds]]: pass the column's native Scala type.
    */
  final case class ColumnEquals(column: String, value: Any)

  /** An IN-list predicate `column IN (values)` for [[readVersionPruned]]
    * — the decontamination/semi-join probe shape: a file survives iff ANY
    * value could be present (Bloom OR-of-probes, else zone-map
    * OR-of-point-ranges). Lists longer than [[MaxInListSkip]] skip file
    * pruning (the OR expression would outgrow its usefulness) and rely on
    * the residual row filter alone.
    */
  final case class ColumnIn(column: String, values: Seq[Any])

  /** Above this IN-list size, file-level pruning is skipped for the list. */
  val MaxInListSkip = 256

  /** Copy-on-write DELETE: commit the latest snapshot minus rows matching
    * `cond` as a new version. Rows where `cond` is NULL are KEPT (SQL
    * DELETE removes only rows the predicate proves true). Base-pinned
    * optimistic concurrency like [[commitMergeFrom]]: a writer landing
    * between our read and publish raises [[CommitConflictException]]
    * instead of silently dropping their commit. Constraints and the
    * skipping policy apply as on every commit path.
    */
  def deleteWhere(spark: SparkSession, table: String,
      cond: org.apache.spark.sql.Column,
      maxRecordsPerFile: Long = 5000000L): Long =
    deleteWhereFrom(spark, table, latestOrFail(spark, table),
      cond, maxRecordsPerFile)

  /** [[deleteWhere]] against an explicitly pinned base — the seam that
    * makes the optimistic-concurrency contract testable (pin a stale base
    * while a newer version exists → the publish must conflict, not
    * overwrite), mirroring [[commitMergeFrom]].
    */
  private[graft] def deleteWhereFrom(spark: SparkSession, table: String,
      base: Long, cond: org.apache.spark.sql.Column,
      maxRecordsPerFile: Long): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    commitCowGranular(spark, table, base, cond, op = "delete",
      maxRecordsPerFile = maxRecordsPerFile)(
      touched => touched.where(not(coalesce(cond, lit(false)))))
  }

  /** Observability for the last file-granular CoW verb on this process:
    * (files rewritten, files the base version referenced) — what the
    * skip-probe law in SinksSpec asserts against. Never read by the
    * protocol itself.
    */
  private[graft] val lastCowRewrite =
    new ThreadLocal[(Int, Int)] {
      // THREAD-local, not process-global: q246/q249 assert their own
      // verb's counters in-query, and a concurrent verb on another
      // thread must not swap the value between set and read
      override def initialValue(): (Int, Int) = (0, 0)
    }

  /** Tables referencing at most this many data files take the
    * whole-snapshot path for non-stale-pinned granular DML and merges:
    * the probe pass (an extra scan job per verb) cannot pay for itself
    * when the full rewrite is this small — the r16 bench showed a flat
    * ~1 s/verb probe tax on fixture-scale lifecycle chains; without it
    * `lakehouse_churn`'s ~2-file UPDATE/DELETE run 10 jobs instead of 8,
    * and Hammer's 1-file phase-1 merges starve under its 10 Hz OPTIMIZE.
    * Kept strictly below the smallest fixture that PINS granular
    * behavior (SinksSpec's rebase law commits nominally-4 files but range
    * sampling can merge a group — 3 can materialize; the hammer fleet
    * seeds 8; q246 lays out 8), and the bypass never
    * applies to a stale-pinned base — granularity is what powers the
    * internal rebase (a whole-snapshot verb dropped onto a winner it
    * never read can only conflict honestly).
    */
  private[graft] val granularBypassMaxFiles = 2

  /** The small-table bypass of [[commitCowGranular]] and
    * [[commitMergeFromKeys]] (see [[granularBypassMaxFiles]]): true when
    * `base` is still the latest version and its layout references at
    * most that many files.
    */
  private def smallFreshBase(spark: SparkSession, table: String, base: Long,
      perScope: Seq[(String, Seq[String], Seq[String])]): Boolean =
    perScope.iterator.map(_._3.size).sum <= granularBypassMaxFiles &&
      latestVersion(spark, table).contains(base)

  /** FILE-GRANULAR copy-on-write — the shared tail of [[deleteWhere]] and
    * [[updateWhere]]. Instead of rewriting the whole snapshot (O(table):
    * at 100 TB an UPDATE touching 0.1% of rows would rewrite 100 TB),
    * the verb:
    *
    *  1. PROBES for touched files: one scan of the visible snapshot,
    *     `cond`-filtered, collecting distinct `_metadata.file_path` —
    *     column-pruned to the predicate's inputs and row-group-pruned by
    *     parquet stats, so the probe reads a fraction of the table and
    *     writes nothing;
    *  2. REWRITES only the touched files through `transform` into one
    *     fresh writer-unique dir (constraint gate + skipping sidecar as
    *     on every commit path);
    *  3. REFERENCES everything else in place: untouched whole dirs keep
    *     their tokens; partially-touched dirs are replaced by kept-FILE
    *     tokens (see [[isFileToken]]) — no byte of an untouched file is
    *     read in step 2 or rewritten, and the published version's cost
    *     is O(matched files), the same class as the read path's
    *     zone-map/Bloom pruning. (Reference analogue: `set-value`
    *     upserts ONE key's entry, hive-task src/primitives.lisp:252–266
    *     — never a whole-container copy.)
    *
    * Deferred-delete predicates PROPAGATE by sidecar name (their scoped
    * dirs are all kept or subset — the fresh dir is outside every
    * recorded scope, and the rewritten rows were read through the keep
    * filters, so nothing double-applies or resurrects). A base that
    * [[granularLayout]] refuses takes the whole-snapshot rewrite, and so
    * do a small fresh base ([[smallFreshBase]]) and a NONDETERMINISTIC
    * predicate: file-granular evaluates `cond` twice (probe + rewrite),
    * which is only sound when both passes select the same rows.
    *
    * A no-match verb publishes a metadata-only version referencing the
    * base's tokens unchanged — version-per-verb semantics at zero data
    * cost. Base-pinned publish like every derived-snapshot verb.
    */
  private def commitCowGranular(spark: SparkSession, table: String,
      base: Long, cond: org.apache.spark.sql.Column, op: String,
      maxRecordsPerFile: Long)(
      transform: DataFrame => DataFrame): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val (hfs, root) = fs(spark, table)
    val baseM = commitOf(hfs, root, table, base)
    val cur = snapshotOf(spark, hfs, root, baseM)
    val hit = coalesce(cond, lit(false))
    val deterministic =
      cur.where(hit).queryExecution.analyzed.expressions.forall(_.deterministic)
    val perScope =
      (if (deterministic) granularLayout(hfs, root, baseM) else None)
        .filterNot(smallFreshBase(spark, table, base, _)) match {
        case Some(layout) => layout
        case None =>
          // whole-snapshot fallback: materializes the mapping / evaluates
          // a nondeterministic predicate exactly once / skips the probe
          // on a small fresh table
          return commitPinned(spark, transform(cur), table, base, op = op,
            maxRecordsPerFile = maxRecordsPerFile)
      }
    val preds = delStateOf(hfs, root, baseM)
    // 1. probe: distinct touched files, driver-side — bounded by the
    // files the rewrite will open anyway (the file-index memory class)
    val touched =
      probeTouched(spark, hfs, root, preds, perScope)(_.where(hit))
    lastCowRewrite.set((touched.valuesIterator.map(_.size).sum,
      perScope.iterator.map(_._3.size).sum))
    // 2. rewrite ONLY the touched files (visible rows → transform); no
    // match writes nothing: zero bytes moved
    val newDir = touchedRows(spark, hfs, root, preds, perScope, touched)
      .map(rows => writeSnapshot(spark, transform(rows), table,
        maxRecordsPerFile))
    // 3. reference the rest in place (the fresh dir goes LAST — the
    // "dir this version itself wrote" convention), publishing with the
    // DISJOINT REBASE tail: a racing commit whose reference set provably
    // does not intersect this verb's touched rows resolves internally
    publishCowRebasing(spark, table, baseM, op, perScope, touched, newDir)(
      paths => parquetOf(spark, paths: _*).where(hit).limit(1).count() > 0)
  }

  /** The base's per-scope token layout when a file-granular verb may run
    * on it, or None for the whole-snapshot path: under an ACTIVE SCHEMA
    * MAPPING (the whole-snapshot rewrite keeps the documented "CoW verbs
    * materialize the mapping" contract, and the probes bind physical
    * names), or when a referenced name is grammar-unsafe (see
    * [[grammarSafeNames]]). The one eligibility decision of every
    * granular verb; each adds only its own fallbacks (nondeterminism,
    * widening, and for DML and merges the small-table bypass).
    */
  private def granularLayout(hfs: FileSystem, root: Path, baseM: Manifest)
      : Option[Seq[(String, Seq[String], Seq[String])]] =
    if (schemaStateOf(hfs, root, baseM).nonEmpty) None
    else Some(layoutOf(hfs, root, baseM)).filter(grammarSafeNames)

  /** The touched files as (scope, kept-file tokens) groups, in layout
    * order.
    */
  private def touchedGroups(
      perScope: Seq[(String, Seq[String], Seq[String])],
      touched: Map[String, Set[String]]): Seq[(String, Seq[String])] =
    perScope.collect { case (scope, _, _) if touched.contains(scope) =>
      scope -> touched(scope).toSeq.sorted.map(n => s"$scope/$n")
    }

  /** The VISIBLE rows of the touched files — the input of every granular
    * rewrite; None when no file is touched.
    */
  private def touchedRows(spark: SparkSession, hfs: FileSystem, root: Path,
      preds: Seq[DelPred],
      perScope: Seq[(String, Seq[String], Seq[String])],
      touched: Map[String, Set[String]]): Option[DataFrame] =
    touchedGroups(perScope, touched).map { case (scope, toks) =>
      visibleScopeFrame(spark, hfs, root, preds, scope, toks)
    }.reduceOption(_ union _)

  /** Version `m`'s token layout per scope: (scope, its tokens, the file
    * names the version references there) — a listing for whole-dir
    * tokens (committed dirs are immutable, so the listing is stable),
    * the token names themselves for kept-file tokens.
    */
  private def layoutOf(hfs: FileSystem, root: Path, m: Manifest)
      : Seq[(String, Seq[String], Seq[String])] =
    groupTokensByScope(splitDirs(m.dataDir)).map { case (scope, toks) =>
      (scope, toks,
        groupRestriction(hfs, root, scope, toks)
          .getOrElse(listParquet(hfs, root, scope)))
    }

  /** Scheme-free spelling of a path: `_metadata.file_path` and
    * `makeQualified` can disagree on URI spelling (file:/ vs file:///)
    * for the same file — compares happen on the bare path.
    */
  private def schemeFreePath(p: String): String = {
    val u = new Path(p).toUri
    if (u.getPath == null || u.getPath.isEmpty) p else u.getPath
  }

  /** A dir's (or file's) parquet schema from ONE footer read on the
    * driver — the first visible data file, descending into subdirs when
    * the dir holds none — through the session's parquet-to-Spark
    * converter: what a schema-less `spark.read.parquet` infers, minus its
    * Spark job. All files of a graft dir, and all dirs of a chain-free
    * version (the [[append]] contract), share one schema.
    */
  private def footerSchema(spark: SparkSession,
      path: Path): org.apache.spark.sql.types.StructType = {
    import org.apache.hadoop.fs.FileStatus
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val conf = spark.sparkContext.hadoopConfiguration
    val hfs = path.getFileSystem(conf)
    def firstFile(st: FileStatus): Option[FileStatus] =
      if (st.isFile) Some(st)
      else {
        val (files, dirs) = hfs.listStatus(st.getPath)
          .filterNot { c => val n = c.getPath.getName
            n.startsWith("_") || n.startsWith(".") }
          .sortBy(_.getPath.getName).partition(_.isFile)
        files.headOption.orElse(dirs.iterator.flatMap(firstFile).nextOption())
      }
    val file = firstFile(hfs.getFileStatus(path)).getOrElse(
      throw new IllegalArgumentException(s"no parquet data file under $path"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Every file `perScope` references with its byte length, one listing
    * per scope: (scope, file name, bytes).
    */
  private def referencedSizes(hfs: FileSystem, root: Path,
      perScope: Seq[(String, Seq[String], Seq[String])])
      : Seq[(String, String, Long)] =
    perScope.flatMap { case (scope, _, referenced) =>
      val lens = hfs.listStatus(new Path(root, scope)).iterator
        .map(st => st.getPath.getName -> st.getLen).toMap
      referenced.map(n => (scope, n, lens.getOrElse(n, 0L)))
    }

  /** The visible part files of a `_`-prefixed sidecar dir (`_stats`,
    * `_changes`), listed once on the driver. Reading the files instead of
    * the dir keeps Spark from dropping the `_` root by name, warning
    * "All paths were ignored", and then reading it anyway.
    */
  private def sidecarFiles(hfs: FileSystem, dir: Path): Seq[String] =
    hfs.listStatus(dir).iterator.map(_.getPath)
      .filterNot { p => val n = p.getName
        n.startsWith("_") || n.startsWith(".") }
      .map(_.toString).toSeq.sorted

  /** The shared snapshot-read entry: parquet over `paths` (files or dirs
    * sharing one schema) typed by the first path's [[footerSchema]].
    */
  private def parquetOf(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(footerSchema(spark, new Path(paths.head)))
      .parquet(paths: _*)

  /** One scope's VISIBLE rows: the token group's restricted parquet
    * read with the scope's deferred-delete keep filter bound to the RAW
    * frame — the shared read shape of every granular probe/rewrite.
    */
  private def visibleScopeFrame(spark: SparkSession, hfs: FileSystem,
      root: Path, preds: Seq[DelPred], scope: String,
      toks: Seq[String]): DataFrame = {
    val df = parquetOf(spark, groupReadPaths(hfs, root, scope, toks): _*)
    delKeepFilter(preds, scope).map(df.where).getOrElse(df)
  }

  /** Probe: the referenced files of `perScope` holding a row `hits`
    * keeps, as scope → file NAMES (empty scopes dropped). One
    * column-pruned scan per scope of `only` (default: the whole layout),
    * distinct on the driver, mapped back onto the layout. The metadata
    * column is stamped BEFORE `hits`: `_metadata` only resolves directly
    * over a file-source relation, never through a join above it.
    */
  private def probeTouched(spark: SparkSession, hfs: FileSystem, root: Path,
      preds: Seq[DelPred], perScope: Seq[(String, Seq[String], Seq[String])],
      only: Option[Seq[(String, Seq[String])]] = None)(
      hits: DataFrame => DataFrame): Map[String, Set[String]] = {
    import org.apache.spark.sql.functions.col
    val groups = only.getOrElse(perScope.map(g => (g._1, g._2)))
    if (groups.isEmpty) return Map.empty
    val raw = groups.map { case (scope, toks) =>
      hits(visibleScopeFrame(spark, hfs, root, preds, scope, toks)
        .withColumn("__graft_file", col("_metadata.file_path")))
        .select(col("__graft_file"))
    }.reduce(_ union _).distinct()
      .collect().map(r => schemeFreePath(r.getString(0))).toSet
    perScope.iterator.map { case (scope, _, referenced) =>
      val qualScope = schemeFreePath(
        hfs.makeQualified(new Path(root, scope)).toString)
      scope -> referenced.filter(n => raw.contains(s"$qualScope/$n")).toSet
    }.filter(_._2.nonEmpty).toMap
  }

  /** The rows of `df` holding any key tuple of `batch` — NULL-SAFE
    * equality (applyChanges groups null keys like values, so a null-key
    * change must touch null-key base rows too): the merge probe's hit
    * test, and its rebase guard's.
    */
  private def keyHits(df: DataFrame, batch: DataFrame,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.alias("b").join(batch.select(keys.map(col): _*).distinct().alias("c"),
      keys.map(k => col(s"b.$k") <=> col(s"c.$k")).reduce(_ && _),
      "left_semi")
  }

  /** Process-wide count of internally-resolved CoW conflicts — the
    * [[publishAppendRebasing]] counter's DML sibling; observability for
    * the hammer and tests only.
    */
  private[graft] val cowRebases = new java.util.concurrent.atomic.AtomicLong

  /** The semantic-rebase publish tail of the FILE-GRANULAR CoW verbs —
    * the Delta logical-conflict-detection move extended from appends
    * ([[publishAppendRebasing]]) to UPDATE/DELETE, which
    * whole-snapshot CoW could never rebase (a full derived snapshot
    * dropped onto a winner it never read loses the winner's rows). A
    * file-granular verb's output IS its delta — the rewritten files plus
    * the untouched references — so when a racer wins the slot, replaying
    * serially would produce the identical rewrite as long as:
    *
    *  1. the winner still references EVERY file this verb touched (it
    *     did not rewrite or un-reference them — same bytes in, same
    *     rewrite out, `cond`/transform being deterministic on this
    *     path);
    *  2. no file the winner ADDED (relative to our base) holds a row
    *     matching `cond` — those are exactly the rows a serial replay
    *     would additionally have rewritten; verified by SCANNING the
    *     added files with the predicate (exact, O(winner churn) — the
    *     stats-only test Delta uses is a conservative approximation of
    *     this; added files live in fresh writer-unique dirs, outside
    *     every recorded del scope, so the raw scan is the visible set);
    *  3. the winner changed no table-level semantics: same del sidecar
    *     (a new deferred delete would have filtered our probe), same
    *     schema sidecar (our rewrite materialized the base's shape), and
    *     the same CHECK-constraint generation (our fresh dir was gated
    *     against the base's constraints).
    *
    * When every guard holds, the verb re-derives its kept tokens against
    * the WINNER's reference set (dropping our touched files from it,
    * splitting whole-dir tokens into kept-file tokens as needed), appends
    * its already-written dir, and re-publishes — no caller retry, no
    * second rewrite. Any guard failing re-raises the conflict for the
    * honest re-derive. Two updaters on disjoint predicate regions of a
    * clustered table therefore both land first-try (hammer phase 7).
    *
    * `hitsAdded` is guard 2's hit test: "does any row of these
    * winner-added files match this verb?" — a predicate scan for
    * UPDATE/DELETE, a key semi-join for MERGE, never for compaction.
    * `batchId`/`mergeKey` pass through to the publish (the merge path's
    * provenance); a present batch token ALSO guards the rebase: if the
    * new latest already carries it, the exactly-once check must re-run
    * against what actually won (conflict to caller, the
    * [[publishAppendRebasing]] rule).
    */
  private def publishCowRebasing(spark: SparkSession, table: String,
      baseM: Manifest, op: String,
      basePerScope: Seq[(String, Seq[String], Seq[String])],
      touched: Map[String, Set[String]],
      newDir: Option[String],
      batchId: Option[Long] = None,
      mergeKey: Option[String] = None)(
      hitsAdded: Seq[String] => Boolean): Long = {
    val (hfs, root) = fs(spark, table)
    val base = baseM.version
    val consAtBase = latestConstraintGen(hfs, root)
    val baseFiles: Set[String] = basePerScope.iterator.flatMap {
      case (scope, _, referenced) => referenced.map(n => s"$scope/$n")
    }.toSet
    // added files verified cond-free on earlier rebase iterations stay
    // verified (their bytes are immutable)
    var cleared = Set.empty[String]
    var attempt = base
    var attemptPerScope = basePerScope
    def keptTokens: Seq[String] = attemptPerScope.flatMap {
      case (scope, toks, referenced) =>
        touched.get(scope) match {
          case None => toks
          case Some(t) => keptTokensFor(hfs, root, scope, referenced, t)
        }
    }
    while (true) {
      try {
        val toks = (keptTokens ++ newDir).mkString(";")
        publish(spark, table, attempt + 1L, toks, batchId, op = op,
          mergeKey = mergeKey,
          delRef = baseM.del, schemaRef = baseM.schema)
        return attempt + 1L
      } catch {
        case e: CommitConflictException =>
          // any guard FAILURE — including a guard EVALUATION failure (a
          // foreign zero-byte manifest in the slot resolves to no dir)
          // — re-raises the original conflict for the honest re-derive
          def tryRebase(): Option[(Long,
              Seq[(String, Seq[String], Seq[String])])] = {
            val cur = latestVersion(spark, table).getOrElse(attempt)
            if (cur <= attempt) return None // foreign slot, not a race
            val curM = manifestOf(hfs, root, cur).getOrElse(return None)
            // batch-token guard: the exactly-once check must re-run
            // against what actually won
            if (batchId.isDefined && curM.batch == batchId) return None
            // guard 3: table-level semantics unchanged
            if (curM.del != baseM.del || curM.schema != baseM.schema ||
                latestConstraintGen(hfs, root) != consAtBase)
              return None
            val curPerScope = layoutOf(hfs, root, curM)
            val curFilesByScope = curPerScope.iterator.map {
              case (scope, _, referenced) => scope -> referenced.toSet
            }.toMap
            // guard 1: every touched file still referenced by the winner
            if (!touched.forall { case (scope, names) =>
                names.subsetOf(curFilesByScope.getOrElse(scope, Set.empty)) })
              return None
            // guard 2: no winner-added file holds a row this verb would
            // have touched (predicate scan / key semi-join via hitsAdded)
            val curFiles = curPerScope.iterator.flatMap {
              case (scope, _, referenced) => referenced.map(n => s"$scope/$n")
            }.toSet
            val added = (curFiles -- baseFiles -- cleared).toSeq.sorted
            if (added.nonEmpty) {
              if (hitsAdded(added.map(f => new Path(root, f).toString)))
                return None
              cleared ++= added
            }
            Some((cur, curPerScope))
          }
          (try tryRebase()
          catch { case scala.util.control.NonFatal(_) => None }) match {
            case None => throw e
            case Some((cur, curPerScope)) =>
              cowRebases.incrementAndGet()
              attempt = cur
              attemptPerScope = curPerScope
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** MERGE-ON-READ delete: commit "rows matching `predicate` are gone" as
    * PURE METADATA — no data file is read or written. The new version
    * references the base dirs unchanged and records the predicate (in an
    * immutable sidecar its manifest names), which every read of this and
    * descendant versions applies as a keep filter. The Delta
    * deletion-vector idea at predicate granularity:
    *
    *  - delete cost is O(metadata) regardless of table size — CoW
    *    [[deleteWhere]] rewrites every surviving byte, which at 100 TB
    *    makes a 0.1%-row delete an hours-long job; this is one sidecar
    *    plus one manifest write;
    *  - reads pay one codegen'd filter, pushed into the parquet scans;
    *    stacked lazy deletes conjoin, and any copy-on-write verb
    *    ([[optimize]], DML, merge, [[restore]]) materializes the
    *    filtered state into clean dirs and resets the stack;
    *  - the predicate is SCOPED to the dirs present at delete time:
    *    rows [[append]]ed later are out of scope even when they match —
    *    exactly the rows a CoW delete at the same point would have
    *    removed, no more (the zone-map/Bloom sidecars of the scoped dirs
    *    stay valid: deletion only narrows content, so pruning bounds
    *    remain conservative supersets);
    *  - semantics are [[deleteWhere]]'s exactly (SQL DELETE: predicate
    *    TRUE deletes, NULL keeps), and every consumer — time travel,
    *    DML, OPTIMIZE, [[refreshRollup]], [[diffVersions]] — sees the
    *    filtered state because all of them read through [[readVersion]]
    *    / [[readVersionPruned]];
    *  - CDC consumers ride THROUGH a lazy-delete version:
    *    [[readChanges]] synthesizes its delete rows on demand (the rows
    *    the new predicate removed from the predecessor —
    *    [[lazyDeleteChanges]]), the `_cdf` mirror publishes them to
    *    streaming subscribers, and [[refreshRollup]] re-aggregates
    *    exactly the deleted rows' groups incrementally; only the
    *    consumer that asks pays the enumeration scan — the verb itself
    *    stays O(metadata);
    *  - no constraint pass: removing rows cannot violate a row-level
    *    CHECK, so the gate every rewriting verb pays is skipped;
    *  - the predicate must ANALYZE against the base schema and be
    *    DETERMINISTIC (it re-evaluates at every read) — both are
    *    validated before anything publishes.
    *
    * Statement: `DELETE FROM '<path>' WHERE <pred> DEFERRED`.
    */
  def deleteWhereLazy(spark: SparkSession, table: String,
      predicate: String): Long =
    deleteWhereLazyFrom(spark, table, latestOrFail(spark, table), predicate)

  /** [[deleteWhereLazy]] against a pinned base — the concurrency seam;
    * publishes at exactly base+1, so a racing commit conflicts instead
    * of being lost.
    */
  private[graft] def deleteWhereLazyFrom(spark: SparkSession, table: String,
      base: Long, predicate: String): Long = {
    import org.apache.spark.sql.functions.expr
    val (hfs, root) = fs(spark, table)
    val baseM = commitOf(hfs, root, table, base)
    val baseDirs = baseM.dataDir
    // a deferred predicate binds to LOGICAL names at read time but is
    // evaluated against each dir's RAW frame — under an active schema
    // mapping the two disagree, so refuse until a copy-on-write verb
    // materializes the mapping (the dual of [[publishSchemaOp]]'s guard)
    require(schemaStateOf(hfs, root, baseM).isEmpty,
      s"$table carries an active schema mapping at version $base — " +
        "deferred predicates cannot bind across it; run a copy-on-write " +
        "verb (OPTIMIZE, UPDATE, DELETE) to materialize the mapping first")
    // validate BEFORE any write: unresolvable columns fail analysis here
    // (AnalysisException), and a nondeterministic predicate would delete
    // DIFFERENT rows on every read — refuse both up front
    val probe = snapshotOf(spark, hfs, root, baseM).where(expr(predicate))
    require(probe.queryExecution.analyzed.expressions.forall(_.deterministic),
      s"lazy-delete predicate must be deterministic (it re-evaluates at " +
        s"every read): $predicate")
    // scope by DIR (kept-file tokens of a file-granular CoW version
    // normalize to their parent): visibility only ever shrinks within a
    // dir — later versions reference the same or fewer of its files — so
    // a dir-level scope is exactly the rows visible at delete time
    val state = delStateOf(hfs, root, baseM) :+
      DelPred(predicate, splitDirs(baseDirs).map(dirScopeOf).toSet)
    val ref = writeDelSidecar(spark, table, state)
    publish(spark, table, base + 1L, baseDirs, op = "lazydelete",
      delRef = Some(ref))
    // feed-enabled tables mirror the synthesized delete rows now — this
    // is the one place a deferred delete pays an enumeration scan in the
    // WRITE path, and only because the table opted into streaming CDC
    mirrorIfEnabled(spark, table)
    base + 1L
  }

  /** Copy-on-write UPDATE: rows matching `cond` get each column in `set`
    * replaced by its expression (evaluated against the OLD row, as in
    * SQL — all assignments see pre-update values); other rows pass
    * through. NULL `cond` rows are untouched. Same base-pinned publish,
    * constraint gate, and skipping policy as [[deleteWhere]].
    */
  def updateWhere(spark: SparkSession, table: String,
      cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      maxRecordsPerFile: Long = 5000000L): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(set.nonEmpty, "updateWhere needs at least one assignment")
    val base = latestOrFail(spark, table)
    val cur = readVersion(spark, table, base)
    val missing = set.keys.filterNot(cur.columns.contains)
    require(missing.isEmpty,
      s"UPDATE of unknown column(s): ${missing.mkString(", ")}")
    val hit = coalesce(cond, lit(false))
    // assignments need no determinism guard (unlike cond): they evaluate
    // exactly once per MATCHED row on either path — unmatched rows take
    // the otherwise(col) branch, and the file-granular rewrite feeds the
    // transform only rows it will write
    // single select per touched file set: every assignment evaluates
    // against the old row. Assignments cast to the column's existing
    // type: UPDATE must never silently migrate the table schema (an int
    // literal widening a long column to double would corrupt every later
    // reader's expectations).
    def updated(df: DataFrame): DataFrame = df.select(df.columns.map { c =>
      set.get(c) match {
        case Some(e) =>
          when(hit, e.cast(cur.schema(c).dataType)).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)
    commitCowGranular(spark, table, base, cond, op = "update",
      maxRecordsPerFile = maxRecordsPerFile)(updated)
  }

  /** Copy-on-write INSERT OVERWRITE ... WHERE (Delta's `replaceWhere`):
    * atomically replace exactly the region `cond` selects with `rows` —
    * rows outside the region pass through, rows inside are dropped, and
    * the replacement batch takes their place, all in ONE version (the
    * delete and the insert can never be observed separately, unlike a
    * [[deleteWhere]] + [[append]] pair). The idempotent-backfill verb:
    * re-deriving one day/region of a 100 TB table writes only the new
    * region plus the kept remainder — and re-running it converges.
    *
    * Contract (strict, as SQL's static-partition overwrite): every
    * replacement row must itself satisfy `cond` — a row outside the
    * region it claims to replace would silently clobber data the caller
    * never named, so it fails typed instead. Replacement rows must carry
    * exactly the table's columns (order-free; values cast to the
    * column's existing type — overwrite never migrates the schema).
    * NULL `cond` rows count as outside the region (kept), per SQL WHERE.
    * Same base-pinned publish, constraint gate, and skipping policy as
    * every other CoW verb.
    */
  def overwriteWhere(spark: SparkSession, table: String,
      cond: org.apache.spark.sql.Column, rows: DataFrame,
      maxRecordsPerFile: Long = 5000000L): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    val base = latestOrFail(spark, table)
    val cur = readVersion(spark, table, base)
    val missing = cur.columns.diff(rows.columns)
    val extra = rows.columns.diff(cur.columns)
    require(missing.isEmpty && extra.isEmpty,
      s"overwrite rows must carry exactly the table's columns — " +
        (if (missing.nonEmpty) s"missing: ${missing.mkString(", ")}; "
         else "") +
        (if (extra.nonEmpty) s"unknown: ${extra.mkString(", ")}" else ""))
    val aligned = rows.select(cur.columns.map(c =>
      col(c).cast(cur.schema(c).dataType).as(c)): _*)
    // region guard BEFORE any write: one counting job over the (small)
    // replacement batch, not the table
    val outside = aligned.where(not(coalesce(cond, lit(false)))).count()
    if (outside > 0L) throw new IllegalArgumentException(
      s"$outside replacement row(s) do not satisfy the overwrite " +
        "predicate — INSERT OVERWRITE ... WHERE only writes into the " +
        "region it replaces (widen the predicate or fix the batch)")
    val kept = cur.where(not(coalesce(cond, lit(false))))
    commitPinned(spark, kept.unionByName(aligned), table, base,
      op = "overwrite", maxRecordsPerFile = maxRecordsPerFile)
  }

  /** Thrown when a commit's snapshot violates a CHECK constraint; the
    * written data dir is an orphan (no manifest names it) and is
    * reclaimable by [[vacuum]] — nothing became visible.
    */
  final class ConstraintViolationException(val name: String,
      val expression: String, val violations: Long)
    extends RuntimeException(
      s"CHECK constraint '$name' ($expression) violated by " +
        s"$violations row(s) — commit aborted, nothing published")

  /** Persist CHECK constraints (a new `_constraints/` generation):
    * every later commit on ANY path counts rows where the expression is
    * FALSE in the written snapshot (NULL passes, per SQL CHECK) and
    * aborts BEFORE publish on the first violated constraint — the
    * violating snapshot never becomes a version. One combined
    * aggregation pass over the snapshot regardless of constraint count.
    * Applies from the next commit; existing versions are not re-checked.
    */
  def setConstraints(spark: SparkSession, table: String,
      constraints: Map[String, String]): Unit = {
    // wholesale REPLACE: racing setConstraints calls serialize through
    // the generation CAS below, so the final state is one caller's
    // complete map (never a torn or interleaved file); use
    // [[addConstraints]] for the additive verb where neither racer may
    // lose the other's entry
    require(constraints.nonEmpty, "setConstraints needs at least one")
    publishConstraintGen(spark, table, _ => constraints)
  }

  /** Atomically ADD constraints (same-name entries replace): a
    * read-merge-publish loop through the generation CAS, so two racing
    * `ADD CONSTRAINT` statements BOTH survive — the loser of the
    * put-if-absent re-reads (now seeing the winner's entry), re-merges,
    * and retries at the next generation. The statement verb compiles
    * here; the single-administrator caveat the RMW spelling carried is
    * retired.
    */
  def addConstraints(spark: SparkSession, table: String,
      toAdd: Map[String, String]): Unit = {
    require(toAdd.nonEmpty, "addConstraints needs at least one")
    publishConstraintGen(spark, table,
      current => current ++ toAdd)
  }

  private val constraintsDirName = "_constraints"
  private val constraintGenRe = """g(\d{8})\.json""".r
  private def constraintGenName(g: Long) = f"g$g%08d.json"

  /** Constraint state lives in immutable GENERATION files
    * (`_constraints/g<NNNNNNNN>.json`, newest wins) promoted through the
    * same put-if-absent primitive as manifests — so a constraint update
    * is CAS'd: `next` computes the new map from the freshly read current
    * state, and a lost race re-reads and retries instead of silently
    * clobbering the winner (the lost-update the old read-modify-write of
    * one mutable `_constraints.json` allowed). The legacy single file
    * remains a read fallback for tables written by older builds; the
    * first generation publish supersedes it.
    */
  private def publishConstraintGen(spark: SparkSession, table: String,
      next: Map[String, String] => Map[String, String]): Unit = {
    val (hfs, root) = fs(spark, table)
    val dir = new Path(root, constraintsDirName)
    hfs.mkdirs(dir)
    var done = false
    while (!done) {
      val gen = latestConstraintGen(hfs, root).getOrElse(0L)
      val merged = next(constraintsOf(spark, table).toMap)
      require(merged.nonEmpty, "constraint state must not become empty")
      require(merged.keys.forall(_.matches("[A-Za-z0-9_]+")),
        "constraint names must be simple identifiers")
      done = putIfAbsentFile(spark, hfs,
        new Path(dir, s".tmp-${UUID.randomUUID}"),
        new Path(dir, constraintGenName(gen + 1L)),
        MetaCodec.encodeConstraints(merged).getBytes(StandardCharsets.UTF_8))
    }
  }

  private def latestConstraintGen(hfs: FileSystem,
      root: Path): Option[Long] = {
    val dir = new Path(root, constraintsDirName)
    if (!hfs.exists(dir)) None
    else hfs.listStatus(dir).iterator.map(_.getPath.getName).collect {
      case constraintGenRe(n) => n.toLong
    }.maxOption
  }

  /** The persisted constraints, name-ascending; empty when none set.
    * Reads the newest generation file, falling back to the legacy
    * mutable `_constraints.json` of pre-generation builds.
    */
  def constraintsOf(spark: SparkSession,
      table: String): Seq[(String, String)] = {
    val (hfs, root) = fs(spark, table)
    val p = latestConstraintGen(hfs, root) match {
      case Some(g) =>
        new Path(new Path(root, constraintsDirName), constraintGenName(g))
      case None => new Path(root, "_constraints.json")
    }
    if (!hfs.exists(p)) Nil
    else MetaCodec.decodeConstraints(MetaCodec.readBody(hfs, p))
  }

  /** One aggregation pass counting FALSE rows per constraint over the
    * just-written (unpublished) snapshot; throws
    * [[ConstraintViolationException]] for the first violated one.
    */
  private def validateConstraints(spark: SparkSession, table: String,
      dirName: String): Unit = {
    val cs = constraintsOf(spark, table)
    if (cs.isEmpty) return
    import org.apache.spark.sql.functions._
    val snap = parquetOf(spark, new Path(new Path(table), dirName).toString)
    val counts =
      try snap.select(cs.map { case (n, e) =>
        sum(when(!coalesce(expr(e), lit(true)), 1L).otherwise(0L)).as(n)
      }: _*).head()
      catch { case e: org.apache.spark.sql.AnalysisException =>
        // name the real cause: a constraint outliving a schema change
        // otherwise surfaces as an opaque resolution error mid-commit
        throw new IllegalArgumentException(
          s"CHECK constraint(s) ${cs.map(_._1).mkString(", ")} reference " +
            s"column(s) this snapshot does not carry — drop or update the " +
            s"constraint (setConstraints) before committing this schema", e)
      }
    cs.zipWithIndex.foreach { case ((n, e), i) =>
      val bad = if (counts.isNullAt(i)) 0L else counts.getLong(i)
      if (bad > 0) throw new ConstraintViolationException(n, e, bad)
    }
  }

  /** Persist the table's data-skipping policy (`_skipping.json` at the
    * table root): every later commit on ANY path — full snapshot, CDC
    * merge, `mergeInto`, streaming [[mergeBatchIfNew]], [[optimize]] —
    * writes the sidecar for these columns automatically, so a
    * continuously-merged table keeps its index instead of silently
    * losing it on the first merge. Explicit `statsCols`/`bloomCols` on a
    * commit override the policy for that commit. Mutable config, not a
    * commit record — overwriting is the point; it applies from the next
    * commit (no retroactive backfill — [[ensureStats]] does that).
    */
  def setSkippingPolicy(spark: SparkSession, table: String,
      statsCols: Seq[String], bloomCols: Seq[String] = Nil,
      bloomBitsPerRow: Int = 10): Unit = {
    require(statsCols.nonEmpty || bloomCols.nonEmpty,
      "policy needs at least one column")
    require((statsCols ++ bloomCols).forall(_.matches("[A-Za-z0-9_]+")),
      "policy column names must be simple identifiers")
    val (hfs, root) = fs(spark, table)
    hfs.mkdirs(root)
    val body = MetaCodec.encodeSkipping(
      MetaCodec.SkippingPolicy(statsCols, bloomCols, bloomBitsPerRow))
    val out = hfs.create(new Path(root, "_skipping.json"), /* overwrite */ true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** One row per committed version — whether it carries a sidecar, which
    * columns its zone maps / Bloom filters cover, and the table's current
    * policy (repeated per row): the audit view for "why didn't my read
    * prune". Metadata-only except one sidecar schema read per version.
    */
  def describeSkipping(spark: SparkSession, table: String): DataFrame = {
    val (hfs, root) = fs(spark, table)
    val pol = skippingPolicy(spark, table)
    val cp = checkpointOf(hfs, root)
    val rows = versions(spark, table).map { v =>
      // a multi-dir (appended) version honestly prunes a column only if
      // EVERY dir covers it — report the intersection. Kept-file and
      // exclusion tokens (file-granular CoW) read their PARENT dir's
      // sidecar, the one pruned reads consult for them.
      val perDir = manifestOf(hfs, root, v, cp).toSeq
        .flatMap(m => splitDirs(m.dataDir)).map(dirScopeOf).distinct
        .map(d => new Path(new Path(root, d), statsDirName))
        .map { p =>
          if (!hfs.exists(p)) Seq.empty[String]
          else try footerSchema(spark, p).fieldNames.toSeq
          catch { case scala.util.control.NonFatal(_) => Seq.empty[String] }
        }
      val cols =
        if (perDir.isEmpty || perDir.exists(_.isEmpty)) Seq.empty[String]
        else perDir.reduce(_ intersect _)
      (v, cols.nonEmpty,
        cols.filter(_.startsWith("min__"))
          .map(_.stripPrefix("min__")).mkString(","),
        cols.filter(_.startsWith("bloom_m__"))
          .map(_.stripPrefix("bloom_m__")).mkString(","),
        pol.map(_.stats.mkString(",")).getOrElse(""),
        pol.map(_.bloom.mkString(",")).getOrElse(""))
    }
    import spark.implicits._
    rows.toDF("version", "sidecar", "stats_cols", "bloom_cols",
      "policy_stats", "policy_bloom")
  }

  /** The persisted policy, or None. */
  private def skippingPolicy(spark: SparkSession,
      table: String): Option[MetaCodec.SkippingPolicy] = {
    val (hfs, root) = fs(spark, table)
    val p = new Path(root, "_skipping.json")
    if (!hfs.exists(p)) None
    else Some(MetaCodec.decodeSkipping(MetaCodec.readBody(hfs, p)))
  }

  /** The zone-map sidecar's dir name inside a snapshot's data dir. The
    * leading underscore makes it invisible to `spark.read.parquet(dataDir)`
    * (Spark's file index skips `_`/`.`-prefixed paths), so [[readVersion]]
    * is byte-identical with or without stats.
    */
  private val statsDirName = "_stats"

  /** Write the per-file zone-map sidecar for `cols` under `dataDir`:
    * one row per data file — (file, rows, min__c, max__c, nulls__c per
    * column), native types preserved (the sidecar is itself parquet).
    * min/max ignore nulls (Spark agg semantics), so a file all-null in a
    * column has null min/max — which every range test fails, correctly
    * pruning it. One small Spark job over the snapshot; the result is one
    * row per file regardless of data size.
    */
  private def writeStatsSidecar(spark: SparkSession, dataDir: Path,
      cols: Seq[String], bloomCols: Seq[String] = Nil,
      bloomBitsPerRow: Int = 10): Unit = {
    if (cols.isEmpty && bloomCols.isEmpty) return
    import org.apache.spark.sql.functions._
    val df = parquetOf(spark, dataDir.toString)
    val missing = (cols ++ bloomCols).distinct.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"stats column(s) ${missing.mkString(", ")} not in snapshot schema")
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).as(s"min__$c"), max(col(c)).as(s"max__$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls__$c")))
    val allAggs = count(lit(1)).as("rows") +: aggs
    val base = df.groupBy(col("_metadata.file_name").as("file"))
      .agg(allAggs.head, allAggs.tail: _*)
    val stats = bloomCols.foldLeft(base)((acc, c) =>
      acc.join(bloomPerFile(spark, df, c, bloomBitsPerRow), Seq("file"), "left"))
    stats.coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(new Path(dataDir, statsDirName).toString)
  }

  /** k (number of Bloom probes per value): 7 ≈ the optimum for ~10
    * bits/row, giving ~1% false-file rate — a false positive only costs
    * opening one file that turns out empty after its row-group filter.
    */
  private val BloomSeeds: Seq[Int] = 0 until 7

  /** Per-file Bloom filter over `c` for [[ColumnEquals]] point-lookup
    * skipping: each non-null value sets k = 7 bits (xxhash64(value, seed)
    * mod m) in an m-bit filter, m sized per file to `bitsPerRow` · rows
    * (rounded up to whole 64-bit words, min 64). Stored SPARSE and
    * word-aligned — `bloom_words__c` (sorted set-word indices, int) +
    * `bloom_masks__c` (their 64-bit masks, aligned) + `bloom_m__c` — so a
    * membership probe is two array lookups per seed, evaluable as a plain
    * expression over the one-row-per-file sidecar. Zone maps cover range
    * predicates on the CLUSTER column; this covers equality on the
    * high-cardinality columns a table cannot also be clustered by (you
    * get one clustering), at the classic Bloom-index storage price —
    * size it with `bitsPerRow`.
    */
  private def bloomPerFile(spark: SparkSession, df: DataFrame, c: String,
      bitsPerRow: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    require(bitsPerRow > 0, s"bloomBitsPerRow must be > 0: $bitsPerRow")
    val vals = df
      .select(col("_metadata.file_name").as("file"), col(c).as("__v"))
      .where(col("__v").isNotNull)
    // `div`, not `/`: the Column `/` is double division and would type
    // the filter size m (and so every probe) as DOUBLE
    val m = vals.groupBy(col("file"))
      .agg(greatest(lit(64L),
        expr(s"((count(1) * $bitsPerRow + 63) div 64) * 64")).as("__m"))
    val probes = BloomSeeds.map(s =>
      pmod(xxhash64(col("__v"), lit(s)), col("__m")))
    vals.join(broadcast(m), Seq("file"))
      .select(col("file"), col("__m"),
        explode(array(probes: _*)).as("__pos"))
      .select(col("file"), col("__m"),
        expr("CAST(__pos div 64 AS INT)").as("__word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))")
          .as("__bit"))
      .groupBy(col("file"), col("__m"), col("__word"))
      .agg(bit_or(col("__bit")).as("__mask"))
      .groupBy(col("file"))
      .agg(first(col("__m")).as(s"bloom_m__$c"),
        sort_array(collect_list(struct(col("__word"), col("__mask"))))
          .as("__wm"))
      .select(col("file"), col(s"bloom_m__$c"),
        col("__wm.__word").as(s"bloom_words__$c"),
        col("__wm.__mask").as(s"bloom_masks__$c"))
  }

  /** Backfill the zone-map sidecar for an already-committed version (new
    * query pattern arrived after ingest). STRICTLY additive — snapshot
    * data files are untouched, and an existing sidecar's coverage is
    * UNIONED with the request (every already-covered column is recomputed
    * into the rewrite), so a backfill can only widen what prunes — it
    * never silently degrades reads on previously-covered columns to full
    * scans. Returns false when the sidecar already covers every requested
    * column (no rewrite).
    */
  def ensureStats(spark: SparkSession, table: String, version: Long,
      cols: Seq[String], bloomCols: Seq[String] = Nil,
      bloomBitsPerRow: Int = 10): Boolean = {
    require(cols.nonEmpty || bloomCols.nonEmpty,
      "ensureStats needs at least one column")
    val (hfs, root) = fs(spark, table)
    // per-dir: an appended version's dirs may have drifted coverage
    // (base dirs carry the policy of their own commit time). Kept-file
    // tokens (file-granular CoW) backfill their PARENT dir's sidecar —
    // per-file stats rows for files this version no longer references
    // are inert (pruned reads intersect with the referenced set)
    splitDirs(commitOf(hfs, root, table, version).dataDir)
      .map(dirScopeOf).distinct.map(rel => new Path(root, rel)).map { dataDir =>
      val statsPath = new Path(dataDir, statsDirName)
      val (haveStats, haveBloom): (Seq[String], Seq[String]) =
        if (!hfs.exists(statsPath)) (Nil, Nil)
        else {
          val have = footerSchema(spark, statsPath).fieldNames
          (have.filter(_.startsWith("min__"))
            .map(_.stripPrefix("min__")).toSeq,
            have.filter(_.startsWith("bloom_m__"))
              .map(_.stripPrefix("bloom_m__")).toSeq)
        }
      if (cols.forall(haveStats.contains) &&
          bloomCols.forall(haveBloom.contains)) false
      else {
        writeStatsSidecar(spark, dataDir,
          (haveStats ++ cols).distinct, (haveBloom ++ bloomCols).distinct,
          bloomBitsPerRow)
        true
      }
    }.exists(identity)
  }

  /** The data dirs `version` resolves to, absolute, in manifest order
    * (LAST = the dir the version itself wrote; one entry except for
    * appended versions).
    */
  private def dataPathsOf(spark: SparkSession, table: String,
      version: Long): Seq[Path] = {
    val (hfs, root) = fs(spark, table)
    splitDirs(commitOf(hfs, root, table, version).dataDir)
      .map(new Path(root, _))
  }

  /** File-level selection for `bounds` against the version's sidecar(s):
    * Some((kept files as TABLE-ROOT-RELATIVE paths, total files)) — or
    * None when NO dir of the version has a sidecar (caller falls back to
    * the full scan). A file survives iff for every STATS-COVERED bound
    * its [min,max] interval can intersect the range (`max >= lower &&
    * min <= upper`); bounds on uncovered columns prune nothing (the
    * residual filter still applies them row-level). Appended versions
    * prune PER DIR: a dir without a sidecar keeps all its files (listed,
    * not scanned). `schema` is the version's snapshot schema — it types
    * the Bloom probe values. Cost: one footer read and one one-row-per-
    * file sidecar scan (one Spark job) per sidecar-bearing dir; the probe
    * hashes are evaluated once per call, on the driver.
    */
  private[graft] def pruneSelection(spark: SparkSession, table: String,
      version: Long, schema: org.apache.spark.sql.types.StructType,
      bounds: Seq[ColumnBounds],
      equalities: Seq[ColumnEquals] = Nil,
      inLists: Seq[ColumnIn] = Nil): Option[(Seq[String], Int)] = {
    val (hfs, root) = fs(spark, table)
    pruneDirs(spark, hfs, root, commitOf(hfs, root, table, version),
      schema, bounds, equalities, inLists)
  }

  /** [[pruneSelection]] over the commit record `m` already in hand. */
  private def pruneDirs(spark: SparkSession, hfs: FileSystem, root: Path,
      m: Manifest, schema: org.apache.spark.sql.types.StructType,
      bounds: Seq[ColumnBounds], equalities: Seq[ColumnEquals],
      inLists: Seq[ColumnIn]): Option[(Seq[String], Int)] = {
    val tokens = splitDirs(m.dataDir)
    // point predicates (equalities + size-capped IN-lists), unified: a
    // file survives an IN-list iff ANY value could be present
    val pointPreds: Seq[(String, Seq[Any])] =
      equalities.map(e => e.column -> Seq(e.value)) ++
        inLists.filter(l => l.values.nonEmpty &&
          l.values.size <= MaxInListSkip).map(l => l.column -> l.values)
    // aligned with pointPreds: each value's k probe hashes as the
    // snapshot's column type (None: the column is not in the snapshot).
    // Lazy — only a sidecar carrying a Bloom filter for a point column
    // forces it, once for every dir
    lazy val probeHashes: Seq[Option[Seq[Seq[Long]]]] = {
      val typed = pointPreds.map { case (c, vs) =>
        schema.find(_.name == c).map(f => vs.map(f.dataType -> _)) }
      val hs = bloomHashes(spark, typed.flatten.flatten).iterator
      typed.map(_.map(_.map(_ => hs.next())))
    }
    // file-granular CoW versions reference kept FILES of a dir: the dir's
    // `_stats` sidecar still covers them (stats are per file; the
    // rewritten-away files' rows are simply never consulted), so pruning
    // runs against the sidecar RESTRICTED to the referenced file set — a
    // sidecar row for an unreferenced file must never resurrect it.
    val perDir: Seq[(String, Option[Set[String]],
        Option[(Seq[String], Int)])] =
      groupTokensByScope(tokens).map { case (scope, toks) =>
        val restriction: Option[Set[String]] =
          groupRestriction(hfs, root, scope, toks).map(_.toSet)
        val statsPath = new Path(new Path(root, scope), statsDirName)
        // the sidecar is an OPTIMIZATION: any failure reading it (an
        // [[ensureStats]] backfill rewriting it mid-read, a truncated
        // write, an unreadable footer) must degrade to the full scan,
        // never fail the query
        val sel =
          if (!hfs.exists(statsPath)) None
          else try {
            val (kept, total) = pruneAgainstStats(spark, hfs, statsPath,
              bounds, pointPreds, probeHashes)
            Some(restriction match {
              case None => (kept, total)
              case Some(rs) => (kept.filter(rs.contains), rs.size)
            })
          } catch { case scala.util.control.NonFatal(_) => None }
        (scope, restriction, sel)
      }
    if (perDir.forall(_._3.isEmpty)) return None
    val parts = perDir.map {
      case (scope, _, Some((kept, total))) =>
        (kept.map(f => s"$scope/$f"), total)
      case (scope, Some(rs), None) =>
        // uncovered restricted dir: exactly the referenced files kept
        (rs.toSeq.sorted.map(f => s"$scope/$f"), rs.size)
      case (scope, None, None) =>
        // uncovered dir: every file kept (a listing, not a scan)
        val files = listParquet(hfs, root, scope)
        (files.map(f => s"$scope/$f"), files.size)
    }
    Some((parts.flatMap(_._1), parts.iterator.map(_._2).sum))
  }

  /** One dir's sidecar against the predicates: (kept file names, files
    * in the sidecar). `probeHashes` is aligned with `pointPreds` (see
    * [[pruneSelection]]).
    */
  private def pruneAgainstStats(spark: SparkSession, hfs: FileSystem,
      statsPath: Path, bounds: Seq[ColumnBounds],
      pointPreds: Seq[(String, Seq[Any])],
      probeHashes: => Seq[Option[Seq[Seq[Long]]]]): (Seq[String], Int) = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val stats = parquetOf(spark, sidecarFiles(hfs, statsPath): _*)
    val has = stats.columns.toSet
    val rangeTests = bounds
      .filter(b => has(s"min__${b.column}"))
      .flatMap { b =>
        b.lower.map(l => col(s"max__${b.column}") >= lit(l)).toSeq ++
          b.upper.map(u => col(s"min__${b.column}") <= lit(u)).toSeq
      }
    val pointTests = pointPreds.zipWithIndex.flatMap { case ((c, vs), i) =>
      (if (has(s"bloom_m__$c")) probeHashes(i) else None) match {
        case Some(hs) => Some(hs.map(bloomTestExpr(c, _)).reduce(_ || _))
        case None if has(s"min__$c") =>
          // no Bloom -> the zone map still excludes files whose range
          // cannot contain the point
          Some(vs.map(v => col(s"min__$c") <= lit(v) &&
            col(s"max__$c") >= lit(v)).reduce(_ || _))
        case None => None
      }
    }
    val keep = (rangeTests ++ pointTests)
      .reduceOption(_ && _).getOrElse(lit(true))
    // an all-null file has null min/max -> the range test is NULL ->
    // "cannot satisfy" -> prune (false), matching SQL range semantics.
    // ONE scan returns every file with its keep flag: the total and the
    // survivors in one job — one (name, flag) per file on the driver,
    // the same driver-memory class as the file index every scan builds
    val flags = stats.select(col("file"), coalesce(keep, lit(false)))
      .collect()
    (flags.iterator.filter(_.getBoolean(1)).map(_.getString(0)).toSeq,
      flags.length)
  }

  /** The k probe hashes for each (column-type, value) pair: the SAME
    * analyzed `xxhash64(value-as-column-type, seed)` expression the write
    * side evaluates per row, evaluated here on the driver (constant
    * inputs need no Spark job), so driver and executor hashing can never
    * drift.
    */
  private[graft] def bloomHashes(spark: SparkSession,
      items: Seq[(org.apache.spark.sql.types.DataType, Any)]): Seq[Seq[Long]] = {
    import org.apache.spark.sql.functions.{lit, xxhash64}
    if (items.isEmpty) return Nil
    val exprs = items.flatMap { case (dt, v) =>
      BloomSeeds.map(s => xxhash64(lit(v).cast(dt), lit(s))) }
    val hashes = spark.range(1).select(exprs: _*).queryExecution.analyzed
      .expressions.map(_.eval().asInstanceOf[Long])
    hashes.grouped(BloomSeeds.size).toSeq
  }

  /** The membership test for one value's probe `hashes` against column
    * `c`'s per-file Bloom arrays, over the sidecar's one-row-per-file
    * frame: two array lookups per seed (word index + mask). A file whose
    * filter lacks ANY probe bit cannot contain the value; missing arrays
    * (file all-null in the column) yield NULL, which the caller's
    * coalesce(false) prunes.
    */
  private def bloomTestExpr(c: String,
      hashes: Seq[Long]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.expr
    hashes.map { h =>
      val pos = s"pmod(${h}L, bloom_m__$c)"
      val idx = s"array_position(bloom_words__$c, CAST($pos div 64 AS INT))"
      expr(s"$idx > 0 AND (element_at(bloom_masks__$c, CAST($idx AS INT)) & " +
        s"shiftleft(CAST(1 AS BIGINT), CAST($pos % 64 AS INT))) != 0")
    }.reduce(_ && _)
  }

  /** Range-predicate read with manifest-level data skipping: semantically
    * identical to `readVersion(...).where(<bounds>)`, but files whose
    * zone-map interval cannot intersect the bounds are never OPENED — at
    * 100 TB that's the difference between touching every footer of a
    * million files and reading the handful a clustered commit put the
    * range into. Parquet row-group stats still prune WITHIN the surviving
    * files; this layer sits above them, driven by one kilobyte-scale
    * sidecar read. Degrades gracefully: no sidecar → full scan + filter
    * (same rows, no skipping). Cluster the table on the bound columns
    * ([[commitClustered]]) for the skipping to bite.
    */
  def readVersionPruned(spark: SparkSession, table: String, version: Long,
      bounds: Seq[ColumnBounds],
      equalities: Seq[ColumnEquals] = Nil,
      inLists: Seq[ColumnIn] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (hfs, root) = fs(spark, table)
    val m = commitOf(hfs, root, table, version)
    val full = snapshotOf(spark, hfs, root, m)
    val residual = (bounds.flatMap { b =>
      b.lower.map(l => col(b.column) >= lit(l)).toSeq ++
        b.upper.map(u => col(b.column) <= lit(u)).toSeq
    } ++ equalities.map(e => col(e.column) === lit(e.value))
      ++ inLists.map(l => col(l.column).isin(l.values: _*)))
      .reduceOption(_ && _).getOrElse(lit(true))
    // a version under an active schema mapping reads unpruned: the stats
    // sidecars and the forced-schema kept-file reads below are keyed by
    // PHYSICAL column names the mapping may have renamed away — degrade
    // to the full (correct, mapped) scan until a copy-on-write verb
    // materializes the mapping
    if (schemaStateOf(hfs, root, m).nonEmpty)
      return full.where(residual)
    pruneDirs(spark, hfs, root, m, full.schema, bounds, equalities,
        inLists) match {
      case None => full.where(residual)
      case Some((kept, total)) if kept.size == total => full.where(residual)
      case Some((kept, _)) if kept.isEmpty =>
        full.where(lit(false)) // folds to an empty LocalRelation — no scan
      case Some((kept, _)) =>
        // kept entries are table-root-relative (they may span several
        // dirs for appended versions)
        val preds = delStateOf(hfs, root, m)
        if (preds.isEmpty)
          spark.read.schema(full.schema)
            .parquet(kept.map(f => new Path(root, f).toString): _*)
            .where(residual)
        else {
          // deferred deletes scope per dir — group the surviving files
          // back under their dirs so each group takes its keep filter
          // (the unpruned branches above go through readVersion, which
          // already applies them)
          kept.groupBy(f => f.take(f.lastIndexOf('/'))).toSeq.sortBy(_._1)
            .map { case (dirRel, files) =>
              val df = spark.read.schema(full.schema)
                .parquet(files.map(f => new Path(root, f).toString): _*)
              delKeepFilter(preds, dirRel).map(df.where).getOrElse(df)
            }.reduce(_ union _).where(residual)
        }
    }
  }

  /** [[readVersionPruned]] at the latest committed version. */
  def readLatestPruned(spark: SparkSession, table: String,
      bounds: Seq[ColumnBounds],
      equalities: Seq[ColumnEquals] = Nil,
      inLists: Seq[ColumnIn] = Nil): DataFrame =
    readVersionPruned(spark, table, latestOrFail(spark, table), bounds,
      equalities, inLists)

  /** Rewrite the LATEST snapshot into ~`targetFileBytes` files and commit
    * the result as a NEW version (Delta's OPTIMIZE): the small-file
    * problem every incremental merge pipeline accretes — thousands of
    * kilobyte files from drip commits, each costing a task + a footer
    * read — fixed by one rewrite, while every historical version stays
    * time-travel-readable (the old files belong to the old versions until
    * [[vacuum]]'s grace passes after [[compactManifests]] retires them...
    * they are REFERENCED, so vacuum never touches them — only dropping
    * the old versions' manifests frees them). With `clusterCols` the
    * rewrite also range-clusters and writes the zone-map sidecar, so
    * OPTIMIZE doubles as the retro-clustering verb. Returns the new
    * version. Concurrency: a racing commit wins the version slot and this
    * throws [[CommitConflictException]] — retry; the half-written rewrite
    * dir is vacuum-reclaimable garbage.
    */
  /** FILE-GRANULAR small-file compaction — [[optimize]]'s O(churn)
    * sibling, the Delta OPTIMIZE bin-packing semantic: only files under
    * `minFileBytes` rewrite (bin-packed toward `targetFileBytes` with a
    * shuffle-free coalesce); every file already big enough is
    * referenced in place as a kept token. At 100 TB this is the
    * difference between "drip ingest needs a nightly lake rewrite" and
    * "maintenance cost tracks the small-file tail": whole-snapshot
    * [[optimize]] rewrites everything it references, so on a mostly-
    * compacted table it pays O(table) to fix O(new-files).
    *
    * Semantics preserved exactly:
    *  - compacted rows read through the deferred-delete keep filters,
    *    so the fresh dir MATERIALIZES pending deletes for the rows it
    *    carries; kept files keep their predicate scopes (the granular-
    *    DML argument verbatim);
    *  - rebase-friendly BEYOND the DML verbs: compaction is row-neutral
    *    on its inputs, so a racing commit only conflicts when it
    *    rewrote one of the compacted files (guard 1) or changed
    *    del/schema/constraint state (guard 3) — the guard-2 added-file
    *    scan is vacuously clean (serial replay would compact the same
    *    input files regardless of what the winner added);
    *  - fewer than TWO compactable files = a clean no-op returning the
    *    current version (no metadata version for nothing, as in Delta);
    *  - an active schema mapping or grammar-unsafe foreign names fall
    *    back to the whole-snapshot [[optimize]] (which is what
    *    materializes mappings).
    *
    * Statement: `OPTIMIZE '<path>' COMPACT UNDER <n> MB [TARGET <m> MB]`.
    */
  def compactSmallFiles(spark: SparkSession, table: String,
      minFileBytes: Long = 32L << 20,
      targetFileBytes: Long = 128L << 20): Long =
    compactSmallFilesFrom(spark, table, latestOrFail(spark, table),
      minFileBytes, targetFileBytes)

  /** [[compactSmallFiles]] against an explicitly pinned base — the
    * concurrency seam, mirroring [[optimizeFrom]].
    */
  private[graft] def compactSmallFilesFrom(spark: SparkSession,
      table: String, base: Long, minFileBytes: Long,
      targetFileBytes: Long): Long = {
    require(minFileBytes > 0, s"minFileBytes must be > 0: $minFileBytes")
    require(targetFileBytes >= minFileBytes,
      s"targetFileBytes ($targetFileBytes) must be >= minFileBytes " +
        s"($minFileBytes)")
    val (hfs, root) = fs(spark, table)
    val baseM = commitOf(hfs, root, table, base)
    val perScope = granularLayout(hfs, root, baseM) match {
      case Some(layout) => layout
      case None => return optimizeFrom(spark, table, base, targetFileBytes,
        Nil, Nil)
    }
    val preds = delStateOf(hfs, root, baseM)
    val sized = referencedSizes(hfs, root, perScope)
    val small = sized.filter(_._3 < minFileBytes)
    lastCowRewrite.set((small.size, sized.size))
    if (small.size < 2) return base // nothing worth compacting
    val touched: Map[String, Set[String]] =
      small.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toSet }
    val outFiles = math.max(1, math.ceil(
      small.iterator.map(_._3).sum.toDouble / targetFileBytes).toInt)
    val rows = touchedRows(spark, hfs, root, preds, perScope, touched).get
      .coalesce(outFiles) // bin-pack, never shuffle
    val d = writeSnapshot(spark, rows, table, 5000000L)
    publishCowRebasing(spark, table, baseM, "optimize",
      perScope, touched, Some(d))(_ => false)
  }

  def optimize(spark: SparkSession, table: String,
      targetFileBytes: Long = 128L << 20,
      clusterCols: Seq[String] = Nil,
      zorderCols: Seq[String] = Nil): Long =
    optimizeFrom(spark, table, latestOrFail(spark, table), targetFileBytes,
      clusterCols, zorderCols)

  /** [[optimize]] against an explicitly pinned base — the seam that makes
    * its optimistic-concurrency contract testable, mirroring
    * [[deleteWhereFrom]]: the rewrite publishes at EXACTLY base+1, so a
    * commit landing after the pin conflicts instead of being replaced by
    * a rewrite of the stale snapshot (which would silently drop its rows
    * from latest — the lost-update anomaly).
    */
  private[graft] def optimizeFrom(spark: SparkSession, table: String,
      base: Long, targetFileBytes: Long,
      clusterCols: Seq[String], zorderCols: Seq[String] = Nil): Long = {
    require(clusterCols.isEmpty || zorderCols.isEmpty,
      "CLUSTER BY and ZORDER BY are mutually exclusive")
    require(zorderCols.isEmpty || zorderCols.size == 2,
      s"ZORDER BY takes exactly two columns: $zorderCols")
    require(targetFileBytes > 0, s"targetFileBytes must be > 0: $targetFileBytes")
    val (hfs, root) = fs(spark, table)
    // sum across ALL the version's REFERENCED files — compacting a
    // drip-appended multi-dir version back into one dir is half of
    // optimize's job; file/exclusion tokens (file-granular CoW) count
    // only the files the version actually references
    val bytes = referencedSizes(hfs, root,
      layoutOf(hfs, root, commitOf(hfs, root, table, base)))
      .iterator.map(_._3).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val cur = readVersion(spark, table, base)
    // a z-order rewrite covers a compact square of the (a, b) plane per
    // file, so a range on EITHER dimension prunes (the commitZordered
    // layout, available post-hoc as an OPTIMIZE)
    import org.apache.spark.sql.functions.col
    val rewritten =
      if (clusterCols.isEmpty && zorderCols.isEmpty) cur.repartition(n)
      else clusteredLayout(cur, n,
        if (zorderCols.isEmpty) clusterCols.map(col)
        else mortonKey(zorderCols.head, zorderCols(1)))
    // clustered/z-ordered rewrites default their zone-map stats to the
    // layout columns (the commitClustered/commitZordered contract);
    // unclustered ones fall back to the table's skipping policy inside
    // the shared tail
    commitPinned(spark, rewritten, table, base, op = "optimize",
      statsCols = if (zorderCols.nonEmpty) zorderCols else clusterCols)
  }
}
