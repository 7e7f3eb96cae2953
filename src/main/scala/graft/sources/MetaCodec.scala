package graft.sources

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.io.JsonStringEncoder
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.hadoop.fs.{FileSystem, Path}

import VersionedTable.{DelPred, SchemaChain, SchemaOp}

/** The single owner of every lakehouse metadata format [[VersionedTable]]
  * reads or writes: the `_manifests/v<N>.json` commit record, the
  * checkpoint that folds retired manifests, the del- and schema-sidecars,
  * the constraint generations and the skipping policy. Each format has
  * one typed record, one `encode*` and one `decode*`.
  *
  * Writers emit compact JSON with a fixed field order, omit absent
  * optional fields and sort dir lists and map keys, so a table shared
  * with an older build (whose readers matched exact field shapes) reads
  * the same bytes it always did. Readers parse real JSON through a
  * private mapper that also accepts raw control characters inside
  * strings: older builds escaped only `\` and `"`, so a multi-line
  * deferred-delete predicate or CHECK expression sits on disk with a
  * literal newline.
  *
  * Nothing parsed is cached: every read goes to the file, so no state can
  * go stale across processes sharing a table.
  */
private[graft] object MetaCodec {

  /** One commit record. Fields in on-disk order; `None` fields are
    * omitted. `dir` names the version's `;`-joined data-dir tokens; `ts`
    * the commit wall-clock (epoch ms); `batch` the stream epoch token;
    * `key` the single merge key; `del`/`schema` the active sidecars; `op`
    * the committing verb; `writer` a per-commit uuid.
    */
  final case class Manifest(version: Long, dir: Option[String],
      ts: Option[Long] = None, batch: Option[Long] = None,
      key: Option[String] = None, del: Option[String] = None,
      schema: Option[String] = None, op: Option[String] = None,
      writer: Option[String] = None) {
    /** The data-dir tokens; a manifest naming none (and no legacy
      * `data/v=N` dir, see [[manifestOf]]) is a corrupt or foreign file.
      */
    def dataDir: String = dir.getOrElse(throw new IllegalStateException(
      s"manifest for version $version names no data dir and no legacy " +
        "data/v=N dir exists — corrupt or foreign file in _manifests/"))
  }

  /** One folded version of a checkpoint: its dir and sidecar refs. The
    * refs let compaction retire sidecar-carrying manifests too — without
    * them, retiring one would resurrect lazily-deleted rows or un-evolve
    * the schema.
    */
  final case class CheckpointEntry(v: Long, dir: String,
      del: Option[String] = None, schema: Option[String] = None)

  /** The `_skipping.json` policy. */
  final case class SkippingPolicy(stats: Seq[String], bloom: Seq[String],
      bitsPerRow: Int)

  // ─────────────────────────── encoders ───────────────────────────────

  private def str(s: String): String =
    "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""

  private def obj(fields: (String, Option[String])*): String =
    fields.collect { case (k, Some(v)) => s"${str(k)}:$v" }
      .mkString("{", ",", "}")

  private def arr(items: Iterable[String]): String =
    items.mkString("[", ",", "]")

  def encodeManifest(m: Manifest): String = obj(
    "version" -> Some(m.version.toString), "dir" -> m.dir.map(str),
    "ts" -> m.ts.map(_.toString), "batch" -> m.batch.map(_.toString),
    "key" -> m.key.map(str), "del" -> m.del.map(str),
    "schema" -> m.schema.map(str), "op" -> m.op.map(str),
    "writer" -> m.writer.map(str))

  def encodeCheckpoint(entries: Seq[CheckpointEntry]): String =
    arr(entries.map(e => obj("v" -> Some(e.v.toString),
      "dir" -> Some(str(e.dir)), "del" -> e.del.map(str),
      "schema" -> e.schema.map(str))))

  def encodeDel(state: Seq[DelPred]): String =
    arr(state.map(p => obj("p" -> Some(str(p.pred)),
      "d" -> Some(arr(p.dirs.toSeq.sorted.map(str))))))

  def encodeSchema(chain: SchemaChain): String = obj(
    "fmt" -> Some(chain.fmt.toString),
    "ops" -> Some(arr(chain.ops.map(o => obj(
      "k" -> Some(str(o.kind)), "n" -> Some(str(o.name)),
      "r" -> Option.when(o.kind == "rename")(str(o.to)),
      "t" -> Option.when(o.kind == "add" || o.kind == "widen")(str(o.tpe)),
      "d" -> o.default.map(str))))),
    "pos" -> Some(obj(chain.pos.toSeq.sortBy(_._1)
      .map { case (d, k) => d -> Some(k.toString) }: _*)))

  def encodeConstraints(cs: Map[String, String]): String =
    obj(cs.toSeq.sortBy(_._1).map { case (n, e) => n -> Some(str(e)) }: _*)

  def encodeSkipping(p: SkippingPolicy): String = obj(
    "stats" -> Some(arr(p.stats.map(str))),
    "bloom" -> Some(arr(p.bloom.map(str))),
    "bitsPerRow" -> Some(p.bitsPerRow.toString))

  // ─────────────────────────── decoders ───────────────────────────────

  private val mapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS).build()

  private def textOf(n: JsonNode, f: String): Option[String] =
    Option(n.get(f)).filter(_.isTextual).map(_.asText)

  private def longOf(n: JsonNode, f: String): Option[Long] =
    Option(n.get(f)).filter(_.isIntegralNumber).map(_.asLong)

  private def elems(n: JsonNode): Seq[JsonNode] =
    Option(n).iterator.flatMap(_.elements.asScala).toSeq

  private def texts(n: JsonNode): Seq[String] =
    elems(n).filter(_.isTextual).map(_.asText)

  def decodeManifest(body: String): Manifest = {
    val n = mapper.readTree(body)
    Manifest(longOf(n, "version").getOrElse(throw new IllegalStateException(
        s"manifest body carries no version: $body")),
      textOf(n, "dir"), longOf(n, "ts"), longOf(n, "batch"),
      textOf(n, "key"), textOf(n, "del"), textOf(n, "schema"),
      textOf(n, "op"), textOf(n, "writer"))
  }

  /** Entries without a ref (checkpoints older than sidecar folding)
    * decode with `del`/`schema` absent.
    */
  def decodeCheckpoint(body: String): Map[Long, CheckpointEntry] =
    elems(mapper.readTree(body)).flatMap { e =>
      for (v <- longOf(e, "v"); d <- textOf(e, "dir"))
        yield v -> CheckpointEntry(v, d, textOf(e, "del"),
          textOf(e, "schema"))
    }.toMap

  def decodeDel(body: String): Seq[DelPred] =
    elems(mapper.readTree(body)).map(e =>
      DelPred(textOf(e, "p").getOrElse(""), texts(e.get("d")).toSet))

  /** A marker-less sidecar is classified by its pos map: pinning writers
    * always pin the base dirs, so an empty map means a legacy (fmt 1)
    * sidecar whose readers replayed the full chain on every dir.
    */
  def decodeSchema(body: String): SchemaChain = {
    val n = mapper.readTree(body)
    val ops = elems(n.get("ops")).map(o => SchemaOp(
      textOf(o, "k").getOrElse(""), textOf(o, "n").getOrElse(""),
      to = textOf(o, "r").getOrElse(""), tpe = textOf(o, "t").getOrElse(""),
      default = textOf(o, "d")))
    val pos = Option(n.get("pos")).iterator
      .flatMap(_.properties.asScala)
      .collect { case e if e.getValue.isIntegralNumber =>
        e.getKey -> e.getValue.asInt }.toMap
    SchemaChain(ops, pos,
      longOf(n, "fmt").map(_.toInt).getOrElse(if (pos.isEmpty) 1 else 2))
  }

  /** Name → expression in file order (generations are written sorted). */
  def decodeConstraints(body: String): Seq[(String, String)] =
    Option(mapper.readTree(body)).iterator.flatMap(_.properties.asScala)
      .collect { case e if e.getValue.isTextual =>
        e.getKey -> e.getValue.asText }.toSeq

  def decodeSkipping(body: String): SkippingPolicy = {
    val n = mapper.readTree(body)
    SkippingPolicy(texts(n.get("stats")), texts(n.get("bloom")),
      longOf(n, "bitsPerRow").map(_.toInt).getOrElse(10))
  }

  // ──────────────────────────── file I/O ──────────────────────────────

  /** The one metadata body read. */
  def readBody(hfs: FileSystem, p: Path): String = {
    val in = hfs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Create `p` holding `body`; fails if it exists (immutable sidecars). */
  def createNew(hfs: FileSystem, p: Path, body: String): Unit = {
    hfs.mkdirs(p.getParent)
    val out = hfs.create(p, /* overwrite = */ false)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  def manifestPath(root: Path, v: Long): Path =
    new Path(root, f"_manifests/v$v%08d.json")

  def checkpointPath(root: Path, id: Long): Path =
    new Path(root, f"_manifests/checkpoint-v$id%08d.json")

  /** Every checkpoint id, ascending, from one `_manifests` listing. */
  def checkpointIds(hfs: FileSystem, root: Path): Seq[Long] = {
    val mDir = new Path(root, "_manifests")
    if (!hfs.exists(mDir)) Nil
    else hfs.listStatus(mDir).iterator.map(_.getPath.getName)
      .collect {
        case n if n.startsWith("checkpoint-v") && n.endsWith(".json") =>
          n.stripPrefix("checkpoint-v").stripSuffix(".json").toLong
      }.toSeq.sorted
  }

  /** Checkpoint `id`'s folded versions. */
  def checkpointAt(hfs: FileSystem, root: Path,
      id: Long): Map[Long, CheckpointEntry] =
    decodeCheckpoint(readBody(hfs, checkpointPath(root, id)))

  /** The newest checkpoint's folded versions, or empty. A racing
    * compaction can retire the checkpoint between the listing and the
    * open (each checkpoint is a superset of its predecessors, so the
    * replacement answers every lookup the retired one did) — re-list and
    * retry once on that window; compaction's keep-two retirement policy
    * guarantees the second attempt's newest checkpoint outlives it.
    */
  def checkpointOf(hfs: FileSystem, root: Path): Map[Long, CheckpointEntry] = {
    def attempt() = checkpointIds(hfs, root).lastOption
      .map(checkpointAt(hfs, root, _)).getOrElse(Map.empty)
    try attempt()
    catch { case _: java.io.FileNotFoundException => attempt() }
  }

  /** Version `v`'s commit record: its manifest file read once, else — the
    * manifest never existed, or compaction retired it, even between a
    * listing and this open — its entry in the checkpoint `cp` (dir and
    * sidecar refs only). None = never committed (or expired). `cp` is
    * by-name so the common case never reads the checkpoint; batch callers
    * pass one preloaded map. A manifest naming no dir was committed by a
    * pre-writer-unique-layout build, whose fixed `data/v=N` dir is used
    * when it actually exists (never a guess at a dir that isn't there).
    */
  def manifestOf(hfs: FileSystem, root: Path, v: Long,
      cp: => Map[Long, CheckpointEntry]): Option[Manifest] =
    try {
      val m = decodeManifest(readBody(hfs, manifestPath(root, v)))
      val legacy = s"data/v=$v"
      Some(if (m.dir.isDefined || !hfs.exists(new Path(root, legacy))) m
        else m.copy(dir = Some(legacy)))
    } catch {
      case _: java.io.FileNotFoundException => cp.get(v).map(e =>
        Manifest(v, Some(e.dir), del = e.del, schema = e.schema))
    }

  def manifestOf(hfs: FileSystem, root: Path, v: Long): Option[Manifest] =
    manifestOf(hfs, root, v, checkpointOf(hfs, root))
}
