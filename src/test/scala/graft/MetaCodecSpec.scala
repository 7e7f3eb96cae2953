package graft

import graft.sources.{MetaCodec, VersionedTable => VT}
import graft.sources.MetaCodec.{CheckpointEntry, Manifest, SkippingPolicy}
import graft.sources.VersionedTable.{DelPred, SchemaChain, SchemaOp}
import org.apache.spark.sql.functions.col

/** Laws for the lakehouse metadata codec: golden bytes (the writer emits
  * exactly the bytes earlier builds wrote, so a table shared with one
  * reads the same), compatibility (every artifact earlier builds wrote —
  * including raw control characters their escaping let through — reads
  * back to the same values) and escaping (every string field
  * round-trips).
  */
class MetaCodecSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-meta").toString

  private def write(path: String, body: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, body.getBytes("UTF-8"))
  }

  private def fsOf(table: String) = {
    val p = new org.apache.hadoop.fs.Path(table)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  // ── golden bytes: literals as the string-built writers produced them ──

  private val fullManifest = Manifest(7L, Some("data/0f3c;data/a1b2"),
    ts = Some(1700000000123L), batch = Some(42L), key = Some("id"),
    del = Some("del-1.json"), schema = Some("schema-2.json"),
    op = Some("merge"), writer = Some("6f1c2d3e-uuid"))
  private val fullManifestBytes =
    """{"version":7,"dir":"data/0f3c;data/a1b2","ts":1700000000123,""" +
      """"batch":42,"key":"id","del":"del-1.json","schema":"schema-2.json",""" +
      """"op":"merge","writer":"6f1c2d3e-uuid"}"""

  private val delState = Seq(
    DelPred("""k > 3 AND s <> 'x"y' AND t LIKE 'a\%'""",
      Set("data/b", "data/a")),
    DelPred("v IS NULL", Set.empty))
  private val delBytes =
    """[{"p":"k > 3 AND s <> 'x\"y' AND t LIKE 'a\\%'",""" +
      """"d":["data/a","data/b"]},{"p":"v IS NULL","d":[]}]"""

  private val chain = SchemaChain(Seq(
    SchemaOp("add", "tier", tpe = "INT", default = Some("7")),
    SchemaOp("add", "props.os", tpe = "STRING"),
    SchemaOp("rename", "tier", to = "tier2"),
    SchemaOp("drop", "x"),
    SchemaOp("widen", "v", tpe = "BIGINT")),
    Map("data/b" -> 1, "data/a" -> 0))
  private val chainBytes =
    """{"fmt":2,"ops":[{"k":"add","n":"tier","t":"INT","d":"7"},""" +
      """{"k":"add","n":"props.os","t":"STRING"},""" +
      """{"k":"rename","n":"tier","r":"tier2"},{"k":"drop","n":"x"},""" +
      """{"k":"widen","n":"v","t":"BIGINT"}],"pos":{"data/a":0,"data/b":1}}"""

  private val checkpoint = Seq(
    CheckpointEntry(1L, "data/a"),
    CheckpointEntry(2L, "data/a;data/b", del = Some("del-1.json")),
    CheckpointEntry(3L, "data/c", schema = Some("schema-2.json")),
    CheckpointEntry(4L, "data/c", Some("del-1.json"), Some("schema-2.json")))
  private val checkpointBytes =
    """[{"v":1,"dir":"data/a"},{"v":2,"dir":"data/a;data/b",""" +
      """"del":"del-1.json"},{"v":3,"dir":"data/c","schema":"schema-2.json"},""" +
      """{"v":4,"dir":"data/c","del":"del-1.json","schema":"schema-2.json"}]"""

  private val constraints = Map("c_str" -> """s <> 'a"b'""", "c_pos" -> "k > 0")
  private val constraintBytes = """{"c_pos":"k > 0","c_str":"s <> 'a\"b'"}"""

  test("golden bytes: every writer emits the bytes earlier builds wrote") {
    assert(MetaCodec.encodeManifest(fullManifest) == fullManifestBytes)
    assert(MetaCodec.encodeManifest(Manifest(1L, Some("data/x"),
      ts = Some(5L), op = Some("commit"), writer = Some("w"))) ==
      """{"version":1,"dir":"data/x","ts":5,"op":"commit","writer":"w"}""")
    assert(MetaCodec.encodeDel(delState) == delBytes)
    assert(MetaCodec.encodeSchema(chain) == chainBytes)
    assert(MetaCodec.encodeSchema(SchemaChain(Seq(SchemaOp("drop", "x")),
      Map.empty, fmt = 1)) == """{"fmt":1,"ops":[{"k":"drop","n":"x"}],"pos":{}}""")
    // compaction folds every version; expiry only the kept suffix — one
    // body shape for both
    assert(MetaCodec.encodeCheckpoint(checkpoint) == checkpointBytes)
    assert(MetaCodec.encodeCheckpoint(checkpoint.takeRight(1)) ==
      """[{"v":4,"dir":"data/c","del":"del-1.json","schema":"schema-2.json"}]""")
    assert(MetaCodec.encodeConstraints(constraints) == constraintBytes)
    assert(MetaCodec.encodeSkipping(SkippingPolicy(Seq("k", "ts"),
      Seq("id"), 12)) == """{"stats":["k","ts"],"bloom":["id"],"bitsPerRow":12}""")
    assert(MetaCodec.encodeSkipping(SkippingPolicy(Seq("k"), Nil, 10)) ==
      """{"stats":["k"],"bloom":[],"bitsPerRow":10}""")
  }

  test("compatibility: artifacts earlier builds wrote decode to their values") {
    assert(MetaCodec.decodeManifest(fullManifestBytes) == fullManifest)
    // a pre-writer-unique-layout manifest: no dir, spaces after the colon
    assert(MetaCodec.decodeManifest("""{"version": 2}""") ==
      Manifest(2L, None))
    // checkpoints older than sidecar folding carry ref-less entries
    assert(MetaCodec.decodeCheckpoint(checkpointBytes) ==
      checkpoint.map(e => e.v -> e).toMap)
    assert(MetaCodec.decodeDel(delBytes) == delState)
    // earlier writers escaped only \ and ", so a multi-line DEFERRED
    // predicate sits on disk with a raw newline and tab
    val rawCtl = "[{\"p\":\"k > 1\n\tAND s <> 'a\\\\b' AND t <> 'c\\\"d'\"," +
      "\"d\":[\"data/a\"]}]"
    assert(MetaCodec.decodeDel(rawCtl) == Seq(DelPred(
      "k > 1\n\tAND s <> 'a\\b' AND t <> 'c\"d'", Set("data/a"))))
    assert(MetaCodec.decodeSchema(chainBytes) == chain)
    // marker-less sidecars: an empty pos map is legacy (fmt 1), a pinned
    // one is fmt 2
    assert(MetaCodec.decodeSchema(
      """{"ops":[{"k":"add","n":"tier","t":"INT","d":"7"}],"pos":{}}""") ==
      SchemaChain(Seq(SchemaOp("add", "tier", tpe = "INT",
        default = Some("7"))), Map.empty, fmt = 1))
    assert(MetaCodec.decodeSchema(
      """{"ops":[{"k":"drop","n":"x"}],"pos":{"data/a":0}}""") ==
      SchemaChain(Seq(SchemaOp("drop", "x")), Map("data/a" -> 0), fmt = 2))
    assert(MetaCodec.decodeConstraints(constraintBytes) ==
      Seq("c_pos" -> "k > 0", "c_str" -> """s <> 'a"b'"""))
    assert(MetaCodec.decodeSkipping(
      """{"stats":["k","ts"],"bloom":["id"],"bitsPerRow":12}""") ==
      SkippingPolicy(Seq("k", "ts"), Seq("id"), 12))
  }

  test("compatibility: a table of hand-written legacy artifacts reads back") {
    import spark.implicits._
    val t = tmp() + "/t"
    VT.commit(spark, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"), t)
    val (hfs, root) = fsOf(t)
    val dir = MetaCodec.manifestOf(hfs, root, 1L).get.dataDir
    // a DELETE ... WHERE <multi-line> DEFERRED as an earlier build wrote it
    write(s"$t/_manifests/del-legacy.json",
      s"""[{"p":"k = 2\n   OR s = 'c'","d":["$dir"]}]""")
    write(s"$t/_manifests/v00000002.json",
      s"""{"version":2,"dir":"$dir","ts":1,"del":"del-legacy.json",""" +
        """"op":"lazydelete","writer":"legacy"}""")
    assert(VT.readVersion(spark, t, 2L).as[(Long, String)].collect().toSeq ==
      Seq((1L, "a")))
    // a multi-line CHECK generation and the legacy single constraints file
    write(s"$t/_constraints.json", """{"legacy_pos":"k > 0"}""")
    assert(VT.constraintsOf(spark, t) == Seq("legacy_pos" -> "k > 0"))
    write(s"$t/_constraints/g00000001.json",
      "{\"c_multi\":\"k > 0\n  AND s <> 'x'\",\"c_pos\":\"k >= 1\"}")
    assert(VT.constraintsOf(spark, t) ==
      Seq("c_multi" -> "k > 0\n  AND s <> 'x'", "c_pos" -> "k >= 1"))
    write(s"$t/_skipping.json",
      """{"stats":["k"],"bloom":["s"],"bitsPerRow":10}""")
    assert(VT.describeSkipping(spark, t).select("policy_stats", "policy_bloom")
      .as[(String, String)].head() == ("k", "s"))
  }

  test("escaping: every string field round-trips, control characters too") {
    val odd = "a\"b\\c\nd\te\u0001f/é"
    val m = Manifest(3L, Some(odd), ts = Some(9L), key = Some(odd),
      del = Some(odd), schema = Some(odd), op = Some(odd), writer = Some(odd))
    assert(MetaCodec.decodeManifest(MetaCodec.encodeManifest(m)) == m)
    val preds = Seq(DelPred(odd, Set(odd, "data/a")))
    assert(MetaCodec.decodeDel(MetaCodec.encodeDel(preds)) == preds)
    val ch = SchemaChain(Seq(SchemaOp("add", odd, tpe = odd,
      default = Some(odd)), SchemaOp("rename", odd, to = odd)), Map(odd -> 1))
    assert(MetaCodec.decodeSchema(MetaCodec.encodeSchema(ch)) == ch)
    val cs = Map("c" -> odd)
    assert(MetaCodec.decodeConstraints(MetaCodec.encodeConstraints(cs)) ==
      cs.toSeq)
    val cp = Seq(CheckpointEntry(1L, odd, Some(odd), Some(odd)))
    assert(MetaCodec.decodeCheckpoint(MetaCodec.encodeCheckpoint(cp)) ==
      Map(1L -> cp.head))
  }

  test("escaping: a merge key holding a quote round-trips in full") {
    import spark.implicits._
    // the string-built manifest wrote "key":"a"b" and read back `a`
    val t = tmp() + "/t"
    val key = "a\"b"
    VT.commit(spark, Seq((1L, 10L), (2L, 20L)).toDF(key, "v"), t)
    val v = VT.commitMerge(spark, t,
      Seq((2L, 21L, 5L, "u")).toDF(key, "v", "__ver", "__op"),
      key = key, version = "__ver", op = "__op")
    val (hfs, root) = fsOf(t)
    assert(MetaCodec.manifestOf(hfs, root, v).flatMap(_.key).contains(key))
    assert(VT.readLatest(spark, t).where(col("v") === 21L).count() == 1)
  }
}
