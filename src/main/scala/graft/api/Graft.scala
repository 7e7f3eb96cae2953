package graft.api

import graft.functions.GraftFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}

/** The user-facing operator library: every LLM-data-pipeline operator as a
  * parameterized DataFrame combinator. The declared queries in
  * `graft.queries.*` are thin fixture-bound instantiations of these — a
  * user brings their own tables and column names.
  *
  * All combinators follow the engine's scale rules: candidates come from
  * equi-join shapes (signature buckets, LSH bands, prefix tokens, cells) —
  * never all-pairs; survivors of dedup are deterministic; heavy per-element
  * math runs in codegen (native expression or long-array algebra).
  *
  * Caching note: the Jaccard near-dup combinators and dupClusters
  * `.cache()` their shingle/label tables, which are read more than once
  * (the candidate pass and both sides of the confirm join, or every
  * fixpoint round) and would otherwise recompute their lineage per read.
  * Caches live until the caller runs
  * `spark.catalog.clearCache()` or unpersists — long-lived applications
  * calling these per-shard should clear between shards (Bench/Verify do).
  */
object Graft {

  /** Portable 32-bit token hash (md5 prefix) — reproducible in any engine
    * that has md5, which keeps signatures verifiable outside Spark.
    */
  def phash32(tok: Column): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast(LongType)

  /** Sorted distinct token set of a text column (whitespace tokens). */
  def tokenSet(text: Column): Column =
    array_sort(array_distinct(split(text, " ")))

  /** Sorted distinct k-token shingle set, built row-local (no shuffle). */
  def shingleSet(text: Column, k: Int): Column = {
    val toks = split(text, " ")
    array_sort(array_distinct(
      transform(sequence(lit(0), greatest(size(toks) - k, lit(0))),
        i => array_join(slice(toks, i + 1, lit(k)), " "))))
  }

  /** Content signature: md5 of the sorted distinct token set — the
    * order-independent exact-dup key used by [[exactDupPairs]] and the
    * funnel/cleaning queries. Fixed-width, so the dedup shuffle key never
    * carries document bodies.
    */
  def contentSignature(text: Column): Column =
    md5(array_join(tokenSet(text), " "))

  // ---------------------------------------------------------------- dedup

  /** Top-k rows per group under `order` (make it a total order — include a
    * unique tiebreak column — or survivors are partition-dependent).
    * Generalizes [[dedupExact]] (k = 1); one hash shuffle on the keys,
    * `row_number` streams each group so memory is O(1) per group, never
    * O(group size). The global-top-k dual is `orderBy(...).limit(k)`,
    * which compiles to TakeOrderedAndProject — use that when there is no
    * group key.
    */
  def topKPerGroup(df: DataFrame, keys: Seq[Column], order: Seq[Column],
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).drop("__rk")
  }

  /** Keep-first dedup: deterministic survivor = first row per `keys` under
    * `order`. One hash-partition shuffle on the keys; never use
    * `dropDuplicates` when the survivor matters.
    */
  def dedupExact(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Incremental corpus dedup: from a NEW batch, drop (1) rows whose
    * content signature already exists in the standing corpus and (2)
    * within-batch duplicates (keep-first under `order`). This is the
    * steady-state shape of corpus maintenance at 100 TB — each ingest
    * deduplicates only the new slice against fixed-width signatures of
    * what is already kept, never re-deduplicating the whole corpus.
    *
    * The corpus side is projected to DISTINCT md5 signatures before the
    * join, so the anti-join shuffles 16-byte keys, not document bodies;
    * AQE turns it into a broadcast anti-join whenever the day's signature
    * delta fits. In production the corpus signature set would be a
    * bucketed table maintained across ingests, making the anti-join
    * shuffle-free on the corpus side.
    */
  def dedupIncremental(batch: DataFrame, corpus: DataFrame,
      batchText: Column, corpusText: Column, order: Seq[Column]): DataFrame = {
    val corpusSigs = corpus
      .select(contentSignature(corpusText).as("__sig")).distinct()
    dedupExact(batch.withColumn("__sig", contentSignature(batchText)),
        keys = Seq(col("__sig")), order = order)
      .join(corpusSigs, Seq("__sig"), "left_anti")
      .drop("__sig")
  }

  /** Per-group quantile floor: keep rows whose `value` is at or above
    * their group's exact `q`-quantile (linear interpolation — the same
    * definition DuckDB's `quantile_cont` uses). The group→threshold table
    * has one row per group, so it broadcasts; the input is scanned twice
    * (once to aggregate thresholds, once to filter) but never shuffled on
    * the data side. The canonical use: a per-language quality floor before
    * training. Exact `percentile` buffers each group's values at the
    * aggregator — at extreme cardinality swap in `approx_percentile`
    * (the q13 sketch surface) for a bounded-memory threshold pass.
    */
  def quantileFilterPerGroup(df: DataFrame, group: Column, value: Column,
      q: Double): DataFrame = {
    require(q > 0.0 && q < 1.0, s"q must be in (0,1): $q")
    val thresholds = df.groupBy(group.as("__g"))
      .agg(percentile(value, lit(q)).as("__thr"))
    df.join(broadcast(thresholds), group === col("__g"))
      .filter(value.cast(DoubleType) >= col("__thr"))
      .drop("__g", "__thr")
  }

  /** The within-group pair expander every dedup / co-occurrence operator
    * shares: all (a, b) pairs, a < b, among the members of each equal-key
    * group. One shuffle on `keys`; each group's members are sorted into
    * one array and pairs expand row-locally ([[expandPairs]]), so the key
    * lineage runs once — never once per side of a self-join. `member` may
    * be a struct; structs compare field by field.
    *
    * Pair set is the key-equality self-join's: members of a NULL key are
    * not collected (the join never matched NULL), and equal members never
    * pair with each other (a duplicate id yields no (x, x) pair). Callers
    * drop NULL texts at the source column instead of filtering the
    * derived key, which Catalyst would push down as a second evaluation
    * of the key expression. Returns `keys`, `a`, `b`.
    *
    * Group-size contract: a key's members sit in one aggregation buffer
    * and one array row — O(group) memory per key. Callers' groups are
    * clusters, buckets or baskets; the bounded-memory route for a skewed
    * hot key is a spillable grouped-pairs operator (ROADMAP item B).
    */
  private[graft] def pairsWithinGroups(rows: DataFrame, keys: Seq[Column],
      member: Column): DataFrame =
    expandPairs(rows.groupBy(keys: _*)
      .agg(sort_array(collect_list(
        when(keys.map(_.isNotNull).reduce(_ && _), member))).as("__m")),
      "__m")

  /** (a, b) pairs, a < b, from each row's SORTED array column `members`:
    * posexplode, then explode the slice after each position. Other
    * columns ride along; `members` is dropped.
    */
  private def expandPairs(df: DataFrame, members: String): DataFrame = {
    val m = col(members)
    df.where(size(m) > 1)
      .select(col("*"), posexplode(m).as(Seq("__i", "a")))
      .select(col("*"), explode(slice(m, col("__i") + 2, size(m))).as("b"))
      .where(col("a") < col("b"))
      .drop("__i", members)
  }

  /** Exact-duplicate pairs by content signature (md5 of the sorted token
    * set), grouped by the fixed-width signature: the corpus is tokenized
    * and hashed once and only (signature, id) rows shuffle.
    */
  def exactDupPairs(df: DataFrame, id: Column, text: Column): DataFrame =
    pairsWithinGroups(
      df.where(text.isNotNull)
        .select(id.as("__id"), contentSignature(text).as("__k")),
      Seq(col("__k")), col("__id"))
      .select(col("a").as("id_a"), col("b").as("id_b"))

  /** SimHash duplicate pairs: `bits`-bit signature over the distinct token
    * set (order-independent), pairs within equal signatures. The
    * signature is the native [[graft.functions.SimHash]] expression — one
    * codegen pass over the hash array; the per-bit interpreted-HOF
    * formulation it replaced was 32 passes and the engine's slowest hot
    * path (13 s → ~1 s at sf0.1, identical signatures).
    */
  def simhashPairs(df: DataFrame, id: Column, text: Column, bits: Int = 32): DataFrame = {
    // the portable token hash is 32-bit; more bits would silently be zero
    require(bits >= 1 && bits <= 32, s"bits must be in [1,32], got $bits")
    pairsWithinGroups(simhashSigs(df, id, text, bits), Seq(col("__sig")),
        col("__id"))
      .select(col("a").as("id_a"), col("b").as("id_b"),
        col("__sig").as("simhash"))
  }

  /** (__id, __sig): the `bits`-bit simhash of each non-NULL text's token
    * set, shared by [[simhashPairs]] and [[simhashHammingPairs]].
    */
  private def simhashSigs(df: DataFrame, id: Column, text: Column,
      bits: Int): DataFrame =
    df.where(text.isNotNull)
      .select(id.as("__id"), transform(tokenSet(text), t => phash32(t)).as("__hs"))
      .select(col("__id"),
        GraftFunctions.simhash(df.sparkSession, col("__hs"), bits).as("__sig"))

  /** SimHash near-dup pairs within Hamming distance `maxDist` — the
    * fuzzy extension of [[simhashPairs]] (which only finds EQUAL
    * signatures). Candidates come from banding, not all-pairs: the
    * signature splits into `bands` contiguous chunks, and by pigeonhole a
    * pair within distance `maxDist < bands` must agree on at least one
    * whole band — so buckets on (band index, band value) have exact
    * recall. Confirmation is `bit_count(xor) <= maxDist`.
    *
    * Band values are computed with PLAN-TIME literal shifts (bands is a
    * builder constant), so the explode is row-local and the only shuffles
    * are the (band, value) bucket aggregate and the candidate DISTINCT.
    * Hot band values (boilerplate corpora) are the skew risk (see
    * [[pairsWithinGroups]]). At corpus scale you'd widen to a
    * 64-bit signature / 16-bit bands to keep buckets sparse; the shape is
    * identical.
    */
  def simhashHammingPairs(df: DataFrame, id: Column, text: Column,
      bits: Int = 32, maxDist: Int = 3, bands: Int = 4): DataFrame = {
    require(bits >= 1 && bits <= 32, s"bits must be in [1,32], got $bits")
    require(bands >= 1 && bits % bands == 0, s"bands must divide bits: $bands")
    require(maxDist >= 0 && maxDist < bands,
      s"pigeonhole needs maxDist < bands: $maxDist >= $bands")
    val w = bits / bands
    val mask = (1L << w) - 1
    // one signature pass; members are (id, signature) structs, so each
    // bucket's pairs carry both signatures to the confirm
    val banded = simhashSigs(df, id, text, bits).select(col("__id"),
        col("__sig"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            (shiftright(col("__sig"), b * w).bitwiseAND(lit(mask)))
              .as("bv"))): _*)).as("__b"))
      .select(col("__id"), col("__sig"),
        col("__b.band").as("band"), col("__b.bv").as("bv"))
    // confirm BEFORE the pair-dedup: bit_count is codegen'd and filters
    // before the DISTINCT shuffle, so it carries only surviving pairs
    // (~6x fewer rows than deduping raw candidates, measured at sf0.1)
    pairsWithinGroups(banded, Seq(col("band"), col("bv")),
        struct(col("__id"), col("__sig")))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        bit_count(col("a.__sig").bitwiseXOR(col("b.__sig"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Exact n-gram-Jaccard near-dup pairs via PPJoin-style prefix filtering:
    * for Jaccard >= `threshold` over sorted shingle sets, a qualifying pair
    * must share a shingle in each side's first
    * floor(|S|·(1−threshold))+1 shingles — candidates come from buckets
    * of exploded prefix shingles (exact recall, never all-pairs). Set algebra runs over hashed longs.
    */
  def nearDupJaccard(df: DataFrame, id: Column, text: Column, k: Int = 5,
      threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val sh = df.where(text.isNotNull).select(id.as("__id"),
      array_sort(array_distinct(
        transform(shingleSet(text, k), t => phash32(t)))).as("__shs"))
      .cache()
    val prefLen = (floor(size(col("__shs")) * (1.0 - threshold)) + 1).cast("int")
    val pref = sh.select(col("__id"),
      explode(slice(col("__shs"), lit(1), prefLen)).as("__k"))
    // prefix-shingle buckets: small by the prefix-filter design
    val cand = pairsWithinGroups(pref, Seq(col("__k")), col("__id"))
      .select(col("a").as("id_a"), col("b").as("id_b"))
      .distinct()
    cand
      .join(sh.as("sa"), col("id_a") === col("sa.__id"))
      .join(sh.as("sb"), col("id_b") === col("sb.__id"))
      .withColumn("jaccard",
        size(array_intersect(col("sa.__shs"), col("sb.__shs"))).cast(DoubleType) /
          size(array_union(col("sa.__shs"), col("sb.__shs"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Edit-distance near-dup pairs for SHORT text fields (titles, names):
    * pairs with levenshtein <= `maxDist`, exact. Candidates come from a
    * length-bucket equi-join (bucket width maxDist+1; one side explodes to
    * adjacent buckets, so every pair within the length bound meets exactly
    * once — no dedup pass). Length is the only blocking key that is EXACT
    * for edit distance (a single edit can change any character, including
    * a prefix, but shifts length by at most 1). Confirm is codegen'd
    * `levenshtein`, O(len²) per candidate — use for short strings; for
    * documents use the shingle-based operators instead.
    */
  def nearDupEdit(df: DataFrame, id: Column, text: Column,
      maxDist: Int = 1): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1: $maxDist")
    val w = maxDist + 1
    val t = df.select(id.as("__id"), text.as("__t"), length(text).as("__len"))
    val a = t.withColumn("__bk", floor(col("__len") / w).cast(LongType))
    val b = t.select(col("__id").as("__idb"), col("__t").as("__tb"),
        col("__len").as("__lenb"))
      .withColumn("__bk", explode(array((-1 to 1).map(o =>
        floor(col("__lenb") / w).cast(LongType) + o): _*)))
    a.join(b, Seq("__bk"))
      .filter(col("__id") < col("__idb") &&
        abs(col("__len") - col("__lenb")) <= maxDist)
      .withColumn("dist", levenshtein(col("__t"), col("__tb")))
      .filter(col("dist") <= maxDist)
      .select(col("__id").as("id_a"), col("__idb").as("id_b"), col("dist"))
  }

  /** Banded MinHash-LSH near-dup pairs: `numHashes` minhashes over hashed
    * k-shingles (hash once, XOR family), `bands` bands, candidates from
    * band buckets, confirmed by exact Jaccard >= `threshold`.
    * Probabilistic recall below J=1 (tune bands/rows for the target J);
    * exact duplicates always collide.
    */
  def nearDupLsh(df: DataFrame, id: Column, text: Column, k: Int = 5,
      numHashes: Int = 16, bands: Int = 4, threshold: Double = 0.9): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val seeds = (0 until numHashes).map { i =>
      val z = 0x9E3779B97F4A7C15L * (i + 1)
      val m = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      m ^ (m >>> 27)
    }
    // NULL texts must not enter: every one has the same shingle set
    // ([NULL]) and would pair with every other at Jaccard 1.0
    val docs = df.where(text.isNotNull).select(id.as("__id"),
      array_sort(array_distinct(
        transform(shingleSet(text, k), t => xxhash64(t)))).as("__shs"))
      .cache()
    val sigs = docs.withColumn("__sig", array(seeds.map { c =>
      array_min(transform(col("__shs"), h => h.bitwiseXOR(lit(c))))
    }: _*))
    val bandRows = sigs.select(col("__id"), explode(array(
      (0 until bands).map { bIdx =>
        struct(lit(bIdx).as("band"),
          xxhash64(slice(col("__sig"), bIdx * rows + 1, rows)).as("bh"))
      }: _*)).as("bk"))
      .select(col("__id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    val cand = pairsWithinGroups(bandRows, Seq(col("band"), col("bh")),
        col("__id"))
      .select(col("a").as("id_a"), col("b").as("id_b"))
      .distinct()
    cand
      .join(docs.as("ta"), col("id_a") === col("ta.__id"))
      .join(docs.as("tb"), col("id_b") === col("tb.__id"))
      .withColumn("jaccard",
        size(array_intersect(col("ta.__shs"), col("tb.__shs"))).cast(DoubleType) /
          size(array_union(col("ta.__shs"), col("tb.__shs"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Benchmark decontamination: per-document count of distinct `k`-token
    * shingles shared with a benchmark/eval corpus, plus a contamination
    * flag — the standard pre-training hygiene pass that keeps eval
    * answers out of the training set.
    *
    * Shape: explode corpus shingles once, equi-join against the DISTINCT
    * benchmark shingle set, count per document, left-join the counts back.
    * The benchmark side is small by nature (eval suites are KBs–MBs while
    * the corpus is TBs) and is explicitly `broadcast` — at 100 TB the
    * corpus streams map-side with zero shuffle for the probe; only the
    * per-doc count aggregation shuffles, and it partial-aggregates first.
    */
  def decontaminate(corpus: DataFrame, bench: DataFrame, id: Column,
      text: Column, benchText: Column, k: Int = 5): DataFrame = {
    val docSh = corpus.select(id.as("__id"),
      explode(shingleSet(text, k)).as("__sh"))
    val benchSh = bench.select(explode(shingleSet(benchText, k)).as("__sh"))
      .distinct()
    val overlap = docSh.join(broadcast(benchSh), "__sh")
      .groupBy(col("__id")).agg(count_distinct(col("__sh")).as("n_overlap"))
    corpus.join(overlap, id === overlap("__id"), "left")
      .drop("__id")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .withColumn("contaminated", col("n_overlap") > 0)
  }

  // ----------------------------------------------------------- similarity

  /** Brute-force cosine top-k against a one-row query frame
    * (`queryVec` must have a single row holding an array<float> column
    * named `qvec`). Broadcasts the query; top-k compiles to
    * TakeOrderedAndProject.
    */
  def cosineTopK(df: DataFrame, id: Column, vec: Column, queryVec: DataFrame,
      k: Int): DataFrame = {
    val s = df.sparkSession
    GraftFunctions.ensureRegistered(s)
    // output = the caller's columns + cos_sim (no renamed id column —
    // callers may already have an `id`, and `qvec` must not leak)
    df.crossJoin(broadcast(queryVec))
      .withColumn("cos_sim", call_function("cosine_sim", vec, col("qvec")))
      .orderBy(col("cos_sim").desc, id)
      .limit(k)
      .drop("qvec")
  }

  /** Batched exact top-k: nearest `k` corpus vectors for EVERY query in a
    * query batch (cosine, ties broken by neighbor id) — the serving-side
    * dual of [[cosineTopK]] (one query) and the exact baseline every ANN
    * variant ([[annAssignCells]], [[annSrpCodes]]) is measured against.
    *
    * Shape: broadcast the query batch, score with the native codegen'd
    * cosine, ONE window keyed by query id. The scored set is
    * |corpus|·|queries| rows, so this is the VERIFICATION baseline: for
    * large query batches at corpus scale, route through the cell/bucket
    * probed variants instead — brute force is what they are scored
    * against, not what ships.
    */
  def cosineTopKBatch(df: DataFrame, id: Column, vec: Column,
      queries: DataFrame, qid: Column, qvec: Column, k: Int): DataFrame = {
    val s = df.sparkSession
    GraftFunctions.ensureRegistered(s)
    val q = queries.select(qid.as("q_id"), qvec.as("__qv"))
    val scored = df.select(id.as("n_id"), vec.as("__cv"))
      .crossJoin(broadcast(q))
      .withColumn("cos_sim",
        call_function("cosine_sim", col("__cv"), col("__qv")))
      .select(col("q_id"), col("n_id"), col("cos_sim"))
    topKPerGroup(scored, Seq(col("q_id")),
      Seq(col("cos_sim").desc, col("n_id")), k)
  }

  /** Count-min-sketch heavy hitters: candidate tokens whose CMS estimate
    * reaches `minCount`, with the estimate attached — the single-pass,
    * bounded-memory dual of an exact `groupBy(token).count()` top-list,
    * completing the sketch family next to HLL distinct counts and the
    * Bloom decontamination pass. One-sided error: estimates only
    * OVER-count (collisions add, never subtract), so every true heavy
    * hitter is present (no false negatives) and estimate >= exact count
    * always; `eps` bounds the overshoot at eps·N with `confidence`.
    *
    * The sketch is built by [[org.apache.spark.sql.DataFrameStatFunctions
    * .countMinSketch]] — one aggregation pass into a w×d counter grid
    * (kilobytes; merged associatively across partitions, the same shape a
    * 1000-executor run uses) — then broadcast for the estimate probe.
    * Deterministic for a fixed `seed`.
    */
  def heavyHitters(df: DataFrame, token: Column, minCount: Long,
      eps: Double = 0.001, confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    heavyHittersImpl(df, token, eps, confidence, seed, _ => minCount)
  }

  /** phi-heavy-hitters: threshold = `phi` fraction of the stream length,
    * read off the sketch's own `totalCount()` — the stream length rides
    * the one sketch-building pass for free, so no separate `count()` job
    * runs (the r13 q33_heavy shape paid an extra full scan for it).
    */
  def heavyHittersPhi(df: DataFrame, token: Column, phi: Double = 0.01,
      eps: Double = 0.001, confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    require(phi > 0.0 && phi <= 1.0, s"phi must be in (0, 1]: $phi")
    heavyHittersImpl(df, token, eps, confidence, seed,
      cms => math.max(1L, math.floor(cms.totalCount() * phi).toLong))
  }

  private def heavyHittersImpl(df: DataFrame, token: Column, eps: Double,
      confidence: Double, seed: Int,
      threshold: org.apache.spark.util.sketch.CountMinSketch => Long)
      : DataFrame = {
    val s = df.sparkSession
    val toks = df.select(token.as("token"))
    val cms = toks.stat.countMinSketch(col("token"), eps, confidence, seed)
    val minCount = threshold(cms)
    val cmsB = s.sparkContext.broadcast(cms)
    // deliberate UDF (1 of 2 in main, with bloomDecontaminate's probe):
    // a broadcast datasketches probe with no builtin expression surface —
    // kilobyte read-only state, branch-light, feeding a partial agg
    val estimate = udf((t: String) => cmsB.value.estimateCount(t))
    toks.distinct()
      .withColumn("est", estimate(col("token")))
      .filter(col("est") >= minCount)
  }

  /** IVF-style ANN: assign every vector to its nearest centroid (argmax
    * cosine with full tiebreak), probe only the query's cell. `centroids`
    * holds (cid, cvec array<float>); at scale the cell id becomes a
    * partition/bucket key and the probe prunes to one cell's files.
    */
  def annAssignCells(df: DataFrame, id: Column, vec: Column,
      centroids: DataFrame): DataFrame = {
    val s = df.sparkSession
    GraftFunctions.ensureRegistered(s)
    val byVec = Window.partitionBy(col("__id"))
      .orderBy(col("__csim").desc, col("cid"))
    df.withColumn("__id", id)
      .crossJoin(broadcast(centroids))
      .withColumn("__csim", call_function("cosine_sim", vec, col("cvec")))
      .withColumn("__rn", row_number().over(byVec))
      .filter(col("__rn") === 1)
      .drop("__rn", "__csim", "cvec")
      .withColumnRenamed("cid", "cell")
  }

  /** Sign-random-projection (SRP) LSH codes: bucket = the bit pattern of
    * cosine signs against `planes` (rows `(pid, pvec array<float>)`,
    * pid ∈ [0, 62] — the code packs bit pid as 2^pid into a long). Two
    * vectors land in one bucket iff they agree on every hyperplane side,
    * so candidate search is an equi-join on `bucket` — the LSH-bucketed
    * dual of the IVF cell path ([[annAssignCells]]): IVF prunes by
    * nearest-centroid region, SRP by angular sector; at scale `bucket` is
    * the partition/bucketing key and a probe reads one bucket's files.
    *
    * One broadcast cross-join with the tiny plane set + ONE shuffle (the
    * per-vector window that folds the plane rows back into a single coded
    * row, keeping every caller column). Signs use strict `cos > 0`, and
    * 2^pid goes through exact double `pow` (integral powers ≤ 2^53) — both
    * reproduce bit-for-bit in any engine, which keeps the surface
    * oracle-pairable, unlike seeded-random LSH.
    */
  def annSrpCodes(df: DataFrame, id: Column, vec: Column,
      planes: DataFrame): DataFrame = {
    val s = df.sparkSession
    GraftFunctions.ensureRegistered(s)
    val byVec = Window.partitionBy(col("__id"))
    df.withColumn("__id", id)
      .crossJoin(broadcast(planes))
      .withColumn("__bit",
        when(call_function("cosine_sim", vec, col("pvec")) > 0.0,
          pow(lit(2.0), col("pid")).cast(LongType)).otherwise(lit(0L)))
      .withColumn("bucket", sum(col("__bit")).over(byVec))
      .withColumn("__rn", row_number().over(byVec.orderBy(col("pid"))))
      .filter(col("__rn") === 1)
      .drop("__rn", "__bit", "__id", "pid", "pvec")
  }

  /** One Lloyd assignment step: nearest centroid (squared-L2, argmin with
    * smallest-cid tiebreak) for every row. `centroids` is a DRIVER-SIDE
    * array of (cid, vector) — k·dim doubles, kilobytes even at k=1000 —
    * embedded as literals, so the scored plan is a pure per-row projection:
    * NO join, NO window, NO shuffle. This is the classic distributed
    * Lloyd shape (centers ride with the closure/literals; only the update
    * step aggregates). The per-centroid distance is the native codegen'd
    * [[graft.functions.L2DistanceSq]]; argmin is `array_min` over
    * (dist, cid) structs — lexicographic struct ordering IS the tiebreak.
    */
  def kmeansAssign(df: DataFrame, vec: Column,
      centroids: Seq[(Long, Array[Double])]): DataFrame = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val s = df.sparkSession
    GraftFunctions.ensureRegistered(s)
    val v = transform(vec, x => x.cast(DoubleType))
    val scored = array(centroids.sortBy(_._1).map { case (cid, cv) =>
      struct(
        call_function("l2_sq", v, typedLit(cv.toSeq)).as("dist"),
        lit(cid).as("cid"))
    }: _*)
    df.withColumn("__best", array_min(scored))
      .withColumn("cluster", col("__best").getField("cid"))
      .withColumn("dist", col("__best").getField("dist"))
      .drop("__best")
  }

  /** Lloyd's k-means over an embedding column: `iters` rounds of
    * assign-then-mean, centroids initialized from the rows with the `k`
    * smallest ids (deterministic — no seeded sampling, so runs, engines,
    * and cluster sizes agree). Returns the final assignment
    * (input columns + `cluster` + `dist`).
    *
    * Scale shape: the assignment step is shuffle-free (literal centroids,
    * see [[kmeansAssign]]); the update step is ONE map-side-combinable
    * aggregation over (cluster, dim) — explode(dim) feeds partial
    * aggregation, so the shuffle carries k·dim partial sums per task, not
    * rows. The k·dim mean table collected to the driver per round is the
    * same kilobytes MLlib's KMeans collects; nothing row-scale ever hits
    * the driver. A cluster left empty keeps its previous centroid (not
    * dropped, not NaN), so k is stable across rounds.
    */
  def kmeansFit(df: DataFrame, id: Column, vec: Column, k: Int,
      iters: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(iters >= 1, s"iters must be >= 1: $iters")
    val v = df.select(id.as("__vid"), transform(vec, x => x.cast(DoubleType)).as("__e"))
      .cache()
    var cents: Seq[(Long, Array[Double])] = v
      .orderBy(col("__vid")).limit(k)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    require(cents.size == k, s"need >= $k rows to seed $k centroids")
    var assigned = kmeansAssign(v, col("__e"), cents)
    var it = 1
    while (it < iters) {
      val means = assigned
        .select(col("cluster"), posexplode(col("__e")).as(Seq("__d", "__x")))
        .groupBy(col("cluster"), col("__d")).agg(avg(col("__x")).as("__m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray
        }
      cents = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
      assigned = kmeansAssign(v, col("__e"), cents)
      it += 1
    }
    assigned
  }

  /** Per-label centroid (mean pooling) in EXPLODED form: one row per
    * (label, dim) with the member count and the dimension mean — the
    * class-prototype / cluster-profile primitive. Exploding dims feeds ONE
    * map-side-combinable aggregation (labels·dims cells, not rows, cross
    * the shuffle); the exploded output shape is deliberate — a row per
    * (label, dim) keeps the result oracle-comparable (raw array columns
    * are not hash-comparable across engines) and writes/joins cleanly.
    */
  def labelCentroids(df: DataFrame, label: Column, vec: Column): DataFrame =
    df.select(label.as("label"),
        posexplode(transform(vec, x => x.cast(DoubleType))).as(Seq("dim", "__x")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), avg(col("__x")).as("mean"))

  /** Per-vector scalar quantization to `levels` codes (default int8-style
    * 256): code = floor((x − min) / scale) clamped to levels−1, with
    * scale = (max − min)/(levels−1); dequantized reconstruction at bin
    * midpoints. The 4× storage cut for a 100 TB embedding corpus; codes
    * ride as array<int> next to (vmin, scale) so any reader can
    * reconstruct. Every step is plain IEEE double arithmetic (floor, no
    * round()), so results are bit-identical across engines — the query
    * surface (q32_quantize) is oracle-paired, unlike typical quantizers.
    * Constant vectors (scale 0) map to code 0.
    *
    * Null elements quantize to null code/dequant (vmin/scale come from the
    * non-null elements — array_min/array_max skip nulls), never to a
    * silently wrong clamp value. NaN elements are a documented
    * PRECONDITION violation: NaN poisons vmin/scale for the whole vector
    * (as it would in any min/max-based quantizer) — filter NaNs upstream.
    */
  def quantizeScalar(df: DataFrame, id: Column, vec: Column,
      levels: Int = 256): DataFrame = {
    require(levels >= 2, s"levels must be >= 2: $levels")
    val d = transform(vec, x => x.cast(DoubleType))
    df.select(id.as("id"), d.as("__v"))
      .withColumn("vmin", array_min(col("__v")))
      .withColumn("scale",
        (array_max(col("__v")) - col("vmin")) / lit((levels - 1).toDouble))
      // per-element null guard: least()/floor() silently skip nulls, which
      // would otherwise turn a null element into code levels-1
      .withColumn("codes",
        when(col("scale") === 0.0, transform(col("__v"), x =>
          when(x.isNull, lit(null).cast("int")).otherwise(lit(0))))
          .otherwise(transform(col("__v"), x =>
            when(x.isNull, lit(null).cast("int")).otherwise(
              least(lit(levels - 1),
                floor((x - col("vmin")) / col("scale")).cast("int"))))))
      .withColumn("dequant", transform(col("codes"), c =>
        col("vmin") + (c.cast(DoubleType) + lit(0.5)) * col("scale")))
      .select(col("id"), col("__v").as("vec_d"), col("vmin"), col("scale"),
        col("codes"), col("dequant"))
  }

  /** Deterministic hash sampling: keeps a row iff the portable hash of its
    * id lands under `percent`. Unlike `df.sample`, the decision is a pure
    * function of the id — reproducible across engines, runs, partitionings,
    * and cluster sizes (the property that matters when a 100 TB corpus is
    * resampled incrementally).
    */
  def hashSample(df: DataFrame, id: Column, percent: Int): DataFrame = {
    require(percent >= 0 && percent <= 100)
    df.filter(pmod(phash32(id.cast(StringType)), lit(100)) < percent)
  }

  /** Stratified deterministic sampling: per-stratum keep-rates (percent,
    * 0–100) with the same pure-function-of-id decision as [[hashSample]] —
    * reproducible across runs, partitionings, and engines. Strata missing
    * from `rates` fall back to `defaultPercent`. The typical use: flatten
    * a skewed language/source mix into a training budget.
    */
  def hashSampleStratified(df: DataFrame, id: Column, strata: Column,
      rates: Map[String, Int], defaultPercent: Int = 0): DataFrame = {
    require((rates.values ++ Seq(defaultPercent)).forall(p => p >= 0 && p <= 100),
      s"percents must be in [0,100]: $rates default=$defaultPercent")
    val rateCol = rates.foldLeft(lit(defaultPercent)) {
      case (acc, (k, p)) => when(strata === lit(k), lit(p)).otherwise(acc)
    }
    df.filter(pmod(phash32(id.cast(StringType)), lit(100)) < rateCol)
  }

  /** Attach zero-cost data-quality counters to a pipeline stage:
    * row count, empty/null-text count, and total characters ride the
    * existing action as accumulator-backed observed metrics
    * (`Dataset.observe`) — no extra pass, no extra shuffle, readable from
    * `Observation.get` after any action completes. This is how a 100 TB
    * cleaning run reports per-stage survivor counts without re-counting:
    * the metrics are a side effect of the write it was doing anyway.
    */
  def observeQuality(df: DataFrame, name: String,
      text: Column): (DataFrame, Observation) = {
    val obs = Observation(name)
    val metrics = Seq(
      count(lit(1)).as("rows"),
      sum(when(text.isNull || length(text) === 0, 1L).otherwise(0L))
        .as("empty_docs"),
      coalesce(sum(length(text).cast(LongType)), lit(0L)).as("total_chars"))
    // Observation-backed observe rejects streaming datasets; a stream
    // reports the same counters per micro-batch through
    // StreamingQueryProgress.observedMetrics(name) instead, and the
    // returned Observation is simply never completed.
    val instrumented =
      if (df.isStreaming) df.observe(name, metrics.head, metrics.tail: _*)
      else df.observe(obs, metrics.head, metrics.tail: _*)
    (instrumented, obs)
  }

  /** Corpus snapshot diff: classify every key as added / removed /
    * changed between two snapshots, comparing a fixed-width md5 over
    * `hashCols` (nulls and column boundaries disambiguated with control
    * bytes, so ("a",null) never collides with ("a","")). The full-outer
    * join runs on (key, 16-byte sig) projections — snapshot bodies never
    * shuffle — and unchanged keys (the overwhelming majority between
    * adjacent crawls) are filtered before anything downstream. The ops
    * question this answers at 100 TB: "what actually changed between
    * yesterday's corpus and today's?" without re-reading either corpus
    * twice.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, key: String,
      hashCols: Seq[String]): DataFrame = {
    require(hashCols.nonEmpty, "snapshotDiff needs at least one hash column")
    def sig(df: DataFrame, as: String) = df.select(col(key),
      md5(concat_ws("\u0001", hashCols.map(c =>
        coalesce(col(c).cast(StringType), lit("\u0000"))): _*)).as(as))
    sig(oldDf, "__old_sig").join(sig(newDf, "__new_sig"), Seq(key), "full_outer")
      .withColumn("change",
        when(col("__old_sig").isNull, lit("added"))
          .when(col("__new_sig").isNull, lit("removed"))
          .when(col("__old_sig") =!= col("__new_sig"), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("change") =!= "unchanged")
      .select(col(key), col("change"))
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    * Spirakis A-Res): each row draws a uniform u from the md5 hash of its
    * id and scores ln(u)/w — the top-k scores are an exact weighted sample.
    * Selection is a pure function of (id, weight), so the sample is
    * reproducible across runs, partitionings, engines, and cluster sizes,
    * and compiles to TakeOrderedAndProject (per-partition heaps + driver
    * merge of k rows) — no global sort, no RNG state to coordinate. The
    * canonical use: a length- or quality-weighted training subset drawn
    * the same way on every rebuild.
    */
  def weightedSample(df: DataFrame, id: Column, weight: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // u in (0,1): (h + 0.5) / 2^32 never hits either endpoint, so ln(u)
    // is finite; weight <= 0 means "never sample" and is filtered, not
    // scored — with k >= candidate count a sentinel score would leak in
    val u = (phash32(id.cast(StringType)) + lit(0.5)) / lit(4294967296.0)
    df.filter(weight.cast(DoubleType) > 0)
      .withColumn("__wscore", log(u) / weight.cast(DoubleType))
      // id tiebreak: a score tie needs identical (u, weight) — vanishing
      // for distinct ids, but the order must be TOTAL for the sample to
      // be partition-count-independent in every case, not just almost all
      .orderBy(col("__wscore").desc, id)
      .limit(k).drop("__wscore")
  }

  /** Deterministic training-mix interleave: per-source virtual time
    * vtime = row_number / weight, so sorting by vtime emits sources in
    * proportion to their weights at every prefix of the stream (weight 2
    * appears twice as often as weight 1) — the standard way to fix a
    * training mix at write time instead of hoping the loader shuffles
    * well. The per-source row_number is a keyed window (hash shuffle on
    * source); the global ordering is left AS A SORT COLUMN — write with
    * `orderBy(mix_order)` (range-partitioned sort) rather than ranking
    * globally, so nothing funnels through one task. Sources missing from
    * `weights` get `defaultWeight`.
    */
  def mixSources(df: DataFrame, source: Column, order: Seq[Column],
      weights: Map[String, Double], defaultWeight: Double = 1.0): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(_ > 0),
      s"weights must be > 0: $weights default=$defaultWeight")
    val w = weights.foldLeft(lit(defaultWeight)) {
      case (acc, (k, v)) => when(source === lit(k), lit(v)).otherwise(acc)
    }
    val rn = row_number().over(Window.partitionBy(source).orderBy(order: _*))
    df.withColumn("mix_order", rn.cast(DoubleType) / w)
  }

  /** Deterministic shard assignment: shard = portable-hash(id) mod
    * `numShards`. The decision is a pure function of the id — the same
    * document lands in the same shard across runs, engines, and cluster
    * sizes, which is what makes incremental corpus rebuilds and resumable
    * training-data writes possible (re-running a failed shard touches only
    * that shard). Pair with `df.repartition(numShards, col("shard"))` +
    * `partitionBy("shard")` at write time for one shuffle into balanced
    * output files; the md5-based hash spreads sequential ids uniformly, so
    * shards stay within a few percent of each other at any corpus size.
    */
  def shardAssign(df: DataFrame, id: Column, numShards: Int): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1: $numShards")
    df.withColumn("shard",
      pmod(phash32(id.cast(StringType)), lit(numShards)).cast("int"))
  }

  /** Result of [[iterateUntilFixpoint]]: the final state frame, how many
    * rounds ran, and whether `halt` fired (vs the `maxIter` cap). Callers
    * that REQUIRE convergence assert on `converged` (see [[dupClusters]]);
    * fixed-iteration callers ([[pageRank]]) ignore it.
    */
  final case class Fixpoint(state: DataFrame, rounds: Int, converged: Boolean)

  /** Generic synchronous fixpoint iteration — the driver loop shared by
    * every iterative-dataflow operator in the engine ([[dupClusters]],
    * [[pageRank]], [[ancestorClosure]]): repeatedly apply `step` to a
    * state DataFrame until `halt` says stop or `maxIter` rounds have run.
    *
    * The loop owns the two things every hand-rolled Spark iteration gets
    * wrong sooner or later:
    *
    *  - **Lineage truncation.** Each round's plan embeds the previous
    *    round's (twice, for self-join steps), so the LOGICAL plan doubles
    *    per round and planning itself OOMs after ~7 rounds. The loop
    *    eagerly `localCheckpoint`s the state every `checkpointEvery`
    *    rounds (default: every round), keeping each round's plan flat
    *    while staying off the (slow, HDFS-backed) reliable checkpoint
    *    path. At 1000 executors the materialized state is a keyed
    *    in-memory table per round — the classic Pregel superstep shape.
    *  - **Convergence actions.** `halt` runs AFTER the checkpoint, so the
    *    count/isEmpty action it almost always needs reads the
    *    materialized state instead of recomputing the round.
    *
    * `step` receives (state, 0-based round index); `halt` receives
    * (state, rounds completed). Rounds where `i % checkpointEvery != 0`
    * skip the checkpoint — only worth it when `halt` is also cheap there.
    *
    * `eagerCheckpoint = false` (r19) marks the checkpoint lazily instead
    * of running a dedicated materialization action: the NEXT action over
    * the state — normally the halt's own count — computes and persists it
    * in the same job, halving the driver-synchronized barriers per round
    * (two full-cluster syncs → one at scale-out). Only sound when every
    * checkpointed round's halt runs a FULL action over the state (a
    * count, not an isEmpty/limit, which computes partitions partially);
    * callers whose halt is free (fixed-round loops) must keep the eager
    * default or the lineage never truncates.
    */
  def iterateUntilFixpoint(init: DataFrame, maxIter: Int,
      checkpointEvery: Int = 1, eagerCheckpoint: Boolean = true)(
      step: (DataFrame, Int) => DataFrame)(
      halt: (DataFrame, Int) => Boolean): Fixpoint = {
    require(maxIter >= 1, s"maxIter must be >= 1: $maxIter")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1: $checkpointEvery")
    var state = init
    var i = 0
    var done = false
    while (!done && i < maxIter) {
      val next = step(state, i)
      i += 1
      state =
        if (i % checkpointEvery == 0) next.localCheckpoint(eagerCheckpoint)
        else next
      done = halt(state, i)
    }
    Fixpoint(state, i, done)
  }

  /** Resolve duplicate PAIRS into CLUSTERS: connected components by
    * min-label propagation with pointer jumping to a fixed point. Input:
    * (id_a, id_b) edges; output: (id, cluster) where cluster = the
    * smallest id in the component.
    *
    * Each round does (1) a one-hop neighbor-min step and (2) a pointer
    * jump (relabel through the label's own label), so convergence is
    * O(log diameter) rounds of bounded shuffle joins, driven by
    * [[iterateUntilFixpoint]] (which owns the per-round lineage
    * truncation). Throws if the fixed point is not reached within
    * maxIter — a silent early exit would return a component split into
    * several clusters.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 25): DataFrame =
    dupClustersFx(pairs, maxIter).state

  /** [[dupClusters]] plus convergence telemetry: the returned
    * [[Fixpoint]] carries the round count actually run, so operational
    * tooling (and the CC scale profile) can confirm the O(log diameter)
    * claim on real data instead of trusting the docstring.
    */
  def dupClustersFx(pairs: DataFrame, maxIter: Int = 25): Fixpoint = {
    // r18: both directions in ONE pass over the pair plan (see pageRank)
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("u"), col("id_b").as("v")),
        struct(col("id_b").as("u"), col("id_a").as("v")))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v"))
      .distinct().cache()
    val init = edges.select(col("u").as("id")).distinct()
      .withColumn("cluster", col("id"))
    // r19: lazy checkpoint — the halt below counts the FULL state every
    // round anyway, so that one action materializes the round's
    // checkpoint too: one driver barrier per round instead of two (the
    // eager-checkpoint count + the convergence count), the dominant cost
    // of scaling this loop out (r18 measured 8c/32c = 0.70).
    val fp = iterateUntilFixpoint(init, maxIter,
        eagerCheckpoint = false) { (labels, _) =>
      // (1) candidate = min(current, min over neighbors' labels)
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("id", "v"), Seq("v"))
        .groupBy(col("u").as("id"))
        .agg(min(col("cluster")).as("nb_min"))
      // the round's INPUT label rides along as __old so convergence is a
      // cheap filter-count over the checkpointed output — an extra
      // shuffle join (next vs labels) per round otherwise
      val hopped = labels.drop("__old").join(viaNeighbor, Seq("id"), "left")
        .select(col("id"), col("cluster").as("__old"),
          least(col("cluster"), coalesce(col("nb_min"), col("cluster")))
            .as("cluster"))
      // (2) pointer jump: cluster := label(cluster), halving chain depth
      hopped.as("a")
        .join(hopped.select(col("id").as("cluster"),
          col("cluster").as("jump")).as("b"), Seq("cluster"), "left")
        .select(col("id"), col("__old"),
          least(col("cluster"), coalesce(col("jump"), col("cluster")))
            .as("cluster"))
    } { (next, _) =>
      next.filter(col("cluster") =!= col("__old")).count() == 0
    }
    require(fp.converged,
      s"dupClusters did not converge within $maxIter rounds")
    Fixpoint(fp.state.drop("__old"), fp.rounds, fp.converged)
  }

  /** PageRank over a duplicate-pair graph: `iters` synchronous power
    * iterations with damping, edges taken undirected (each pair
    * contributes both directions). Ranks duplicate-cluster "hubs" — the
    * canonical-document signal when collapsing near-dup groups (keep the
    * highest-rank member instead of the smallest id).
    *
    * Scale shape per iteration: one equi-join of edges against the rank
    * table (both hash-partitioned on the source vertex — the classic
    * Pregel message join) and one partial-aggregated groupBy on the
    * destination, driven by [[iterateUntilFixpoint]] as a fixed-round
    * iteration (halt never fires; the per-round eager localCheckpoint is
    * the combinator's). Every node of an undirected edge list has degree
    * >= 1, so there are no dangling-mass corrections.
    */
  def pageRank(pairs: DataFrame, iters: Int = 3,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1): $damping")
    // r18: emit both directions in ONE pass over the pair plan (explode
    // of a 2-struct array) — the union-of-two-selects form evaluated the
    // whole pair derivation once per direction before the cache filled
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("u"), col("id_b").as("v")),
        struct(col("id_b").as("u"), col("id_a").as("v")))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v"))
      .cache()
    val nodes = edges.select(col("u").as("id")).distinct().cache()
    val n = nodes.count().toDouble
    val deg = edges.groupBy(col("u"))
      .agg(count(lit(1)).cast(DoubleType).as("d"))
    val init = nodes.withColumn("pr", lit(1.0) / lit(n))
    // r19: checkpoint every 4 rounds, not every round. The step reads
    // `pr` ONCE (no self-join), so the uncheckpointed plan grows
    // LINEARLY — ≤4 chained join+agg rounds plan fine — and each skipped
    // checkpoint removes a full-cluster materialization barrier (halt
    // never acts here; r18 measured 8c/32c = 0.62 with one barrier per
    // round). At the default iters = 3 the whole power iteration now
    // runs as ONE pipelined job under the consumer's action.
    iterateUntilFixpoint(init, iters, checkpointEvery = 4) { (pr, _) =>
      edges
        .join(pr.withColumnRenamed("id", "u"), Seq("u"))
        .join(deg, Seq("u"))
        .groupBy(col("v"))
        .agg((lit(1.0 - damping) / lit(n) +
          lit(damping) * sum(col("pr") / col("d"))).as("pr"))
        .select(col("v").as("id"), col("pr"))
    } { (_, _) => false }.state
  }

  // --------------------------------------------------------- data profiling

  /** Single-pass numeric table profile: one row per requested column with
    * count, null count, exact distinct count, and min/max (as double) —
    * the data-quality summary a pipeline asserts on before training runs.
    * ONE scan and ONE aggregation produce every column's stats
    * simultaneously (the per-column rows come from exploding the single
    * aggregated row, not from N passes). Exact distinct counts shuffle
    * per-column expand rows at corpus scale — swap in
    * `approx_count_distinct` (the q13 HLL surface) when 2% error is
    * acceptable.
    */
  def profileNumeric(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileNumeric needs at least one column")
    val aggs: Seq[Column] = count(lit(1)).as("__total") +: cols.flatMap(c => Seq(
      count(col(c)).as(s"__n_$c"),
      count_distinct(col(c)).as(s"__nd_$c"),
      min(col(c)).cast(DoubleType).as(s"__min_$c"),
      max(col(c)).cast(DoubleType).as(s"__max_$c")))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"),
        col(s"__n_$c").as("n"),
        (col("__total") - col(s"__n_$c")).as("n_null"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__min_$c").as("min_d"),
        col(s"__max_$c").as("max_d"))): _*)).as("__p"))
      .select(col("__p.*"))
  }

  /** Fixed-width value histogram: `nbins` equal buckets over [lo, hi),
    * out-of-range values clamped into the edge buckets (so the histogram
    * is TOTAL over the input — nothing silently dropped), empty buckets
    * emitted with count 0. Pure per-row floor arithmetic feeding one
    * partial-aggregated groupBy, plus a broadcast join against the tiny
    * literal bucket spine to surface empties. The profiling dual of
    * [[profileNumeric]] for distribution shape.
    */
  def histogram(df: DataFrame, value: Column, lo: Double, hi: Double,
      nbins: Int): DataFrame = {
    require(nbins >= 1, s"nbins must be >= 1: $nbins")
    require(lo < hi, s"need lo < hi: [$lo, $hi)")
    val width = (hi - lo) / nbins
    val bucket = least(lit(nbins - 1), greatest(lit(0),
      floor((value.cast(DoubleType) - lit(lo)) / lit(width)).cast("int")))
    val counts = df.select(bucket.as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    val spine = df.sparkSession.range(nbins)
      .select(col("id").cast("int").as("bucket"))
    spine.join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        (lit(lo) + col("bucket") * lit(width)).as("bucket_lo"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Key-skew diagnostic: the `topN` heaviest keys with their share of all
    * rows and their skew factor (count ÷ mean per-key count). This is the
    * report to run BEFORE a big join or groupBy at scale — a skew factor
    * in the hundreds on a join key is the signal to reach for
    * [[graft.operators.SaltedJoin]] or AQE skew handling. One partial-
    * aggregated groupBy; the grand totals come from a second aggregation
    * over the (already small) per-key counts, broadcast back — no window
    * over an unpartitioned frame, so nothing funnels through one task.
    */
  def keySkew(df: DataFrame, key: Column, topN: Int = 20): DataFrame = {
    require(topN >= 1, s"topN must be >= 1: $topN")
    val counts = df.groupBy(key.as("key")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum(col("cnt")).as("__total"),
      count(lit(1)).as("__nkeys"))
    counts.crossJoin(broadcast(totals))
      .select(col("key"), col("cnt"),
        round(col("cnt") / col("__total"), 6).as("frac"),
        round(col("cnt") * col("__nkeys") / col("__total"), 6).as("skew"))
      .orderBy(col("cnt").desc, col("key"))
      .limit(topN)
  }

  // ----------------------------------------------------------- data layout

  /** Z-order (Morton) key: interleaves the low `bitsPerDim` bits of two
    * non-negative dimension columns (a in even positions, b in odd), so
    * sorting by the key clusters rows that are close in BOTH dimensions.
    * Range-partition + sort by this key before writing parquet and the
    * row-group min/max stats stay tight on each dimension separately —
    * range predicates on EITHER column prune row groups, where a plain
    * lexicographic sort only serves its leading column. Pure bitwise
    * column ops: stays inside whole-stage codegen.
    */
  def zorderKey(a: Column, b: Column, bitsPerDim: Int = 31): Column = {
    require(bitsPerDim >= 1 && bitsPerDim <= 31,
      s"bitsPerDim must be in [1,31]: $bitsPerDim")
    (0 until bitsPerDim).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  // ------------------------------------------------- scalable prefix scans

  /** EXCLUSIVE running max of `value` in `order` (each row sees the max
    * over all strictly-preceding rows; the first row gets null), as new
    * column `out`.
    *
    * `Window.orderBy(order)` with no partition computes this through ONE
    * task holding the whole dataset — the classic batch scale-killer. This
    * is the two-level formulation: rows chunk by `order DIV chunkSize`,
    * the within-chunk prefix max runs as a PARTITIONED window (parallel),
    * and cross-chunk carry-in comes from a prefix max over the tiny
    * one-row-per-chunk summary table, broadcast-joined back. The only
    * unpartitioned window left runs over n_chunks rows, not n rows.
    *
    * `order` must be unique numeric; ties within a chunk would make
    * "strictly preceding" ambiguous. Negative orders are supported:
    * chunk ids come from `floor(order / chunkSize)`, which is monotone
    * over the whole long range (q80's descending-revenue encoding relies
    * on this; PropertySpec pins it).
    *
    * Carry-window bound (r19): the unpartitioned carry window runs over
    * one row per POPULATED chunk — at most min(n_rows,
    * order_range / chunkSize) rows on ONE task. The declared callers'
    * order keys are row ranks or rank-like encodings, so their chunk
    * counts are n/chunkSize (≈ 10⁵ carry rows per 6.5·10⁹ input rows at
    * the default 2¹⁶). For a WIDE-RANGE order key (raw cents or epoch
    * micros at corpus scale, range ≳ 10¹²) the default degenerates
    * toward one chunk per row — size `chunkSize ≈ range / 10⁵` there so
    * the carry stays a single-task-friendly ≤ ~10⁵ rows; correctness
    * never depends on the choice (GraftApiSpec pins the one-chunk-per-
    * row worst case exactly), only the carry's parallelism does.
    */
  def prefixMaxExclusive(df: DataFrame, order: Column, value: Column,
      out: String, chunkSize: Long = 1L << 16): DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive: $chunkSize")
    val wChunk = Window.partitionBy(col("__chunk")).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wPrevChunks = Window.orderBy(col("__chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // DECIMAL(38,0) orders (q80/q83's encodings) divide through Spark's
    // precision-preserving decimal division (DECIMAL(38,6), HALF_UP): the
    // quotient can round ACROSS a k*chunkSize boundary (|err| ≤ 5e-7, so
    // with chunkSize > 2e6 an order of k*chunkSize − 1 may map to chunk
    // k). Correct anyway: round-half-up and floor are both monotone
    // non-decreasing, so order→chunk stays monotone and deterministic —
    // chunk ids are BUCKETS, nothing downstream assumes which side of a
    // boundary a row lands on. GraftApiSpec pins this with decimal orders
    // adjacent to k*chunkSize at a rounding-active chunk size.
    val chunked = df
      .withColumn("__chunk", floor(order / lit(chunkSize)).cast(LongType))
      .withColumn("__local", max(value).over(wChunk))
    val carry = chunked.groupBy(col("__chunk")).agg(max(value).as("__cmax"))
      .withColumn("__prev", max(col("__cmax")).over(wPrevChunks))
      .select(col("__chunk"), col("__prev"))
    // greatest() skips nulls (null only when BOTH are null = first row of
    // the first chunk) — exactly the exclusive-prefix-of-nothing case
    chunked.join(broadcast(carry), Seq("__chunk"))
      .withColumn(out, greatest(col("__local"), col("__prev")))
      .drop("__chunk", "__local", "__prev")
  }

  /** EXCLUSIVE running sum of `value` in `order` (each row sees the sum
    * over all strictly-preceding rows; the first row gets 0), as new
    * column `out`. Same two-level chunked shape as [[prefixMaxExclusive]]:
    * within-chunk prefix sums run as a partitioned window, cross-chunk
    * carry-in comes from a prefix sum over the one-row-per-chunk summary,
    * broadcast back — the only unpartitioned window runs over n_chunks
    * rows. `order` must be unique numeric — negatives supported, see
    * [[prefixMaxExclusive]]; `value` is summed as long (token counts,
    * byte sizes).
    */
  def prefixSumExclusive(df: DataFrame, order: Column, value: Column,
      out: String, chunkSize: Long = 1L << 16): DataFrame =
    prefixSumsExclusive(df, order, Seq(value -> out), chunkSize)

  /** [[prefixSumExclusive]] for SEVERAL value columns in ONE two-level
    * scan (r18): the ECDF callers (KS statistics) need two running sums
    * over the same order, and nesting two single-column scans costs a
    * second chunk window, a second carry aggregate, and a second carry
    * join — plus it re-reads its input lineage once per level. All the
    * sums share one chunk window, one carry aggregate, and one broadcast
    * join here. The carry branch derives from the PRE-window frame (the
    * per-chunk window adds nothing to a per-chunk total), so the carry
    * aggregate never pays the within-chunk sort.
    */
  def prefixSumsExclusive(df: DataFrame, order: Column,
      values: Seq[(Column, String)], chunkSize: Long = 1L << 16): DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive: $chunkSize")
    require(values.nonEmpty, "prefixSumsExclusive needs at least one value")
    val wChunk = Window.partitionBy(col("__chunk")).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wPrevChunks = Window.orderBy(col("__chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // decimal-order rounding note: see prefixMaxExclusive — the mapping
    // may shift a boundary row's bucket but stays monotone, which is all
    // the two-level scan needs
    val base = df
      .withColumn("__chunk", floor(order / lit(chunkSize)).cast(LongType))
    val chunked = values.zipWithIndex.foldLeft(base) {
      case (acc, ((v, _), i)) =>
        acc.withColumn(s"__local$i", sum(v.cast(LongType)).over(wChunk))
    }
    val csums = values.zipWithIndex.map { case ((v, _), i) =>
      sum(v.cast(LongType)).as(s"__csum$i")
    }
    val carry = values.indices.foldLeft(
        base.groupBy(col("__chunk")).agg(csums.head, csums.tail: _*)) {
        (acc, i) =>
          acc.withColumn(s"__prev$i", sum(col(s"__csum$i")).over(wPrevChunks))
      }
      .select(col("__chunk") +: values.indices.map(i => col(s"__prev$i")): _*)
    val out = values.zipWithIndex.foldLeft(
        chunked.join(broadcast(carry), Seq("__chunk"))) {
      case (acc, ((_, name), i)) =>
        acc.withColumn(name, coalesce(col(s"__local$i"), lit(0L)) +
          coalesce(col(s"__prev$i"), lit(0L)))
    }
    out.drop("__chunk" +:
      values.indices.flatMap(i => Seq(s"__local$i", s"__prev$i")): _*)
  }

  /** Concat-and-chunk sequence packing: lay documents end-to-end in
    * `order` and cut the token stream into training-context bins of
    * `capacity` tokens — the standard "concatenate then chunk" packing of
    * LLM pretraining pipelines (no padding waste, documents may straddle a
    * bin boundary). Appends each document's token span start (`offset`,
    * exclusive prefix sum of `tokens`) and the first/last bin its span
    * touches. Scale shape: the global running sum is the chunked
    * [[prefixSumExclusive]], never a single-task window. Rows with
    * `tokens` = 0 carry an empty span (`bin_last` may sort before
    * `bin_first`) — filter them upstream if they shouldn't be placed.
    */
  def packSequences(df: DataFrame, order: Column, tokens: Column,
      capacity: Long, chunkSize: Long = 1L << 16): DataFrame = {
    require(capacity > 0, s"capacity must be positive: $capacity")
    val n = tokens.cast(LongType)
    prefixSumExclusive(df, order, n, "offset", chunkSize)
      .withColumn("bin_first", floor(col("offset") / capacity).cast(LongType))
      .withColumn("bin_last",
        floor((col("offset") + n - 1) / capacity).cast(LongType))
  }

  /** Time-series resample + forward fill: bucket each key's events into
    * fixed `stepSeconds` slots, emit a COMPLETE per-key slot spine over
    * the data's global time range (gaps surfaced, not skipped), and
    * forward-fill the per-slot exact average through empty slots — the
    * gap-filling/resample primitive behind dashboards and feature
    * backfills. Slots before a key's first observation stay null.
    *
    * Scale shape: slot assignment is per-row floor arithmetic; the
    * per-(key, slot) aggregation partial-aggregates; the spine is
    * keys × slots built from a broadcast 1-row bounds table; forward fill
    * is the classic two-window trick (running non-null count defines
    * fill groups, then a per-(key, group) max) — BOTH windows are
    * partitioned by key, so no single-task global window exists. The
    * fill value rides the exact-decimal average ([[graft.Exact]]), so
    * results are partition-order-independent.
    */
  def resampleFfill(df: DataFrame, key: Column, time: Column, value: Column,
      stepSeconds: Long = 3600): DataFrame = {
    require(stepSeconds > 0, s"stepSeconds must be positive: $stepSeconds")
    val slots = df.select(key.as("key"),
      floor(time.cast(LongType) / lit(stepSeconds.toDouble)).cast(LongType)
        .as("slot"),
      value.as("__v"))
    val agg = slots.groupBy(col("key"), col("slot"))
      .agg(count(lit(1)).as("n_events"), graft.Exact.davg(col("__v")).as("v_avg"))
    val bounds = slots.agg(min(col("slot")).as("__lo"), max(col("slot")).as("__hi"))
    val spine = slots.select(col("key")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("key"),
        explode(sequence(col("__lo"), col("__hi"))).as("slot"))
    val wRun = Window.partitionBy(col("key")).orderBy(col("slot"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // r18: forward fill as ONE running `last(ignoreNulls)` window instead
    // of the two-window trick (running non-null count -> fill groups ->
    // per-group max) — the second window hashed on (key, group), a
    // separate exchange + sort. Identical values: each fill group held
    // exactly one non-null (its head), so group-max == most recent
    // non-null at-or-before the row. q118_locf precedent.
    spine.join(agg, Seq("key", "slot"), "left")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      .withColumn("v_ffill", last(col("v_avg"), ignoreNulls = true).over(wRun))
  }

  // -------------------------------------------------- temporal/range joins

  /** As-of (point-in-time) join: for every left row, attach the LATEST
    * right row with the same `key` and `right.time <= left.time`
    * (inclusive, LEFT-outer — unmatched left rows keep null right values).
    *
    * Implementation is the scale-shape one: union both sides on (key,
    * time) and forward-fill right values with one window pass — a SINGLE
    * hash shuffle on the key plus a per-partition sort. The naive
    * formulation (`l.ts >= r.ts` theta join + keep-latest) explodes to
    * |L|·|R| rows per key before pruning; this never materializes more
    * than |L|+|R| rows. At equal timestamps the right row sorts first, so
    * a simultaneous right row IS matched (DuckDB `ASOF JOIN ... ON
    * l.ts >= r.ts` semantics — oracle-paired in q44_asof_join).
    *
    * Both inputs must carry `key` and `time` columns under those names;
    * remaining column names must be disjoint across sides. The matched
    * right row is attached ATOMICALLY: all right value columns are packed
    * into one struct before the forward-fill, so a right row carrying a
    * genuine NULL in one column cannot have that column back-filled from
    * an older row (and multi-column results never mix fields from
    * different right rows). Known skew note: a pathologically hot key
    * serializes into one task — [[asofJoinSplit]] is the same join with
    * the window partitioned by (key, time-split), built for exactly that.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, time: String): DataFrame =
    asofJoinTolerance(left, right, key, time, tolerance = None)

  /** [[asofJoin]] with a staleness bound (pandas `merge_asof(tolerance=)`):
    * a matched right row older than `tolerance` (in the time column's own
    * units) is discarded — the row survives with nulls, exactly as if no
    * right row preceded it. Same single-shuffle shape: the right row's
    * time rides inside the packed struct, so the staleness test is one
    * row-local comparison after the fill.
    */
  def asofJoinTolerance(left: DataFrame, right: DataFrame, key: String,
      time: String, tolerance: Option[Long]): DataFrame = {
    require(tolerance.forall(_ >= 0),
      s"tolerance must be >= 0: ${tolerance.get}")
    val lv = left.columns.filterNot(c => c == key || c == time)
    val rv = right.columns.filterNot(c => c == key || c == time)
    val overlap = lv.toSet.intersect(rv.toSet)
    require(overlap.isEmpty, s"asofJoin value columns must be disjoint: $overlap")
    if (rv.isEmpty) return left
    // one nullable struct per right row — filled as a unit, unpacked
    // after; "__rt" (the right row's own time) rides along for the
    // staleness test and never leaves this operator
    val rvStructType = StructType(
      rv.map(c => right.schema(c).copy(nullable = true)) :+
        right.schema(time).copy(name = "__rt", nullable = true))
    val lNorm = left.select(
      Seq(col(key), col(time), lit(1).as("__side")) ++
        lv.map(col) :+
        lit(null).cast(rvStructType).as("__rv"): _*)
    val rNorm = right.select(
      Seq(col(key), col(time), lit(0).as("__side")) ++
        lv.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(rv.map(col) :+ col(time).as("__rt"): _*).as("__rv"): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col(time), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = lNorm.unionByName(rNorm)
      .withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    val bounded = tolerance match {
      case None => filled
      case Some(t) => filled.withColumn("__rv",
        when(col(time).cast(LongType) -
          col("__rv").getField("__rt").cast(LongType) <= t, col("__rv")))
    }
    bounded.select(Seq(col(key), col(time)) ++ lv.map(col) ++
      rv.map(c => col("__rv").getField(c).as(c)): _*)
  }

  /** [[asofJoin]] for HOT keys: identical results, but the fill window
    * partitions by (key, time-split) instead of key alone, so a key
    * holding a billion rows spreads across `range/splitWidth` tasks
    * instead of serializing into one — the fix for the skew caveat on
    * [[asofJoin]], built from the engine's own two-level carry pattern
    * ([[prefixMaxExclusive]]): per (key, split) the latest right row
    * BEFORE the split's start arrives as a synthetic carry row, computed
    * with an exclusive `last(ignoreNulls)` window over the one-row-per-
    * (key, split) summary table — keyed by key but sized in SPLITS, not
    * rows. `splitWidth` is in the time column's own units (cast to long);
    * pick it so a split holds memory-comfortable row counts for the
    * hottest key. Costs one extra splits-sized aggregation + carry join
    * over [[asofJoin]] (measured ~+1 s of fixed overhead at fixture
    * scale, where even a 90%-hot key sorts in well under a second) — reach
    * for it when a single key's rows outgrow one task's sort budget, not
    * before.
    */
  def asofJoinSplit(left: DataFrame, right: DataFrame, key: String,
      time: String, splitWidth: Long): DataFrame = {
    require(splitWidth > 0, s"splitWidth must be > 0: $splitWidth")
    val lv = left.columns.filterNot(c => c == key || c == time)
    val rv = right.columns.filterNot(c => c == key || c == time)
    val overlap = lv.toSet.intersect(rv.toSet)
    require(overlap.isEmpty, s"asofJoin value columns must be disjoint: $overlap")
    if (rv.isEmpty) return left
    val rvStructType = StructType(
      rv.map(c => right.schema(c).copy(nullable = true)) :+
        StructField("__rt", LongType, nullable = true))
    def splitOf(t: Column) = floor(t.cast(LongType) / splitWidth).cast(LongType)
    val lNorm = left.select(
      Seq(col(key), col(time), splitOf(col(time)).as("__split"),
        lit(1).as("__side")) ++ lv.map(col) :+
        lit(null).cast(rvStructType).as("__rv"): _*)
    val rNorm = right.select(
      Seq(col(key), col(time), splitOf(col(time)).as("__split"),
        lit(0).as("__side")) ++
        lv.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(rv.map(col) :+ col(time).cast(LongType).as("__rt"): _*)
          .as("__rv"): _*)
    // per-(key, split) summary: the LAST right row of each split — one
    // row per occupied split, so everything below is split-sized
    val summaries = rNorm
      .groupBy(col(key), col("__split"))
      .agg(max_by(col("__rv"), struct(col(time), col("__rv"))).as("__last"))
    // the carry for split s = last right row of any EARLIER split. The
    // spine is every (key, split) either side occupies; the exclusive
    // window runs over n_splits rows per key (bounded), never data rows.
    val spine = lNorm.select(col(key), col("__split"))
      .union(rNorm.select(col(key), col("__split"))).distinct()
    val wPrev = Window.partitionBy(col(key)).orderBy(col("__split"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = spine
      .join(summaries, Seq(key, "__split"), "left")
      .withColumn("__carry", last(col("__last"), ignoreNulls = true).over(wPrev))
      .filter(col("__carry").isNotNull)
      .select(Seq(col(key),
        (col("__split") * splitWidth).cast(left.schema(time).dataType)
          .as(time),
        col("__split"), lit(-1).as("__side")) ++
        lv.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        col("__carry").as("__rv"): _*)
    // fill within each (key, split): carry sorts first (side -1 at the
    // split start), right rows override it, left rows read the latest
    val w = Window.partitionBy(col(key), col("__split"))
      .orderBy(col(time), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lNorm.unionByName(rNorm).unionByName(carries)
      .withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(Seq(col(key), col(time)) ++ lv.map(col) ++
        rv.map(c => col("__rv").getField(c).as(c)): _*)
  }

  /** Range join: pair each point row with every interval row of the same
    * `key` whose `[lo, hi]` contains the point (inclusive both ends).
    *
    * A raw `lo <= p AND p <= hi` predicate next to the key equality still
    * hash-joins on the key, but every candidate pair of a key meets the
    * range filter post-join — fine until one key dominates. This operator
    * additionally BUCKETS the range dimension (width `bucketWidth`, in the
    * point column's units): intervals explode to the buckets they overlap,
    * points to exactly one bucket, and the equi-join key becomes (key,
    * bucket) — hot keys spread across their time range instead of one
    * reducer. Exact: the containment filter re-checks after the bucket
    * candidate join, and each (interval, point) pair meets in exactly one
    * bucket (the point's), so no dedup pass is needed.
    *
    * `point`/`lo`/`hi` must be numeric (epoch-cast timestamps first).
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame, key: String,
      point: String, lo: String, hi: String, bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    val pb = points.withColumn("__bucket",
      floor(col(point) / bucketWidth).cast(LongType))
    val ib = intervals
      .withColumn("__bucket",
        explode(sequence(floor(col(lo) / bucketWidth).cast(LongType),
          floor(col(hi) / bucketWidth).cast(LongType))))
      .filter(col(lo) <= col(hi))
    pb.join(ib, Seq(key, "__bucket"))
      .filter(col(lo) <= col(point) && col(point) <= col(hi))
      .drop("__bucket")
  }

  // ------------------------------------------------------- text analysis

  /** Per-document quality signals appended as columns (all input columns
    * preserved): token count, average token length, stopword ratio,
    * vowel-group density. Pure per-row codegen arithmetic.
    */
  def qualityScores(df: DataFrame, text: Column,
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "to")): DataFrame = {
    val t = split(text, " ")
    val nTok = size(t)
    val nStop = size(filter(t, x => x.isin(stopwords: _*)))
    val squeezed = regexp_replace(text, "[aeiou]+", "~")
    val nVg = length(squeezed) - length(regexp_replace(squeezed, "~", ""))
    df.withColumn("n_tokens", nTok)
      .withColumn("avg_tok_len",
        (length(text) - (nTok - 1)).cast(DoubleType) / nTok)
      .withColumn("stop_ratio", nStop.cast(DoubleType) / nTok)
      .withColumn("vowel_groups_per_tok", nVg.cast(DoubleType) / nTok)
  }

  /** PII patterns shared by [[scrubPii]] and its counting queries. Kept to
    * constructs Java regex and RE2 execute identically (character classes,
    * bounded/greedy quantifiers — no alternation-overlap or backtracking
    * edge cases), so an external engine reproduces the scrub exactly.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\+\\d[\\d-]{7,}\\d"

  /** Redact email addresses, IPv4 addresses, and international-format
    * phone numbers with typed placeholder tokens — the standard scrub pass
    * before training-data release. Order matters and is fixed: emails
    * first (their local part may contain digits a later pass would
    * mangle), then IPs, then phones; placeholders contain no digits or
    * '@', so passes never rewrite each other's output. Pure per-row
    * codegen `regexp_replace` — scale-safe by construction.
    */
  def scrubPii(text: Column): Column = {
    val noEmail = regexp_replace(text, emailRe, "<EMAIL>")
    val noIp = regexp_replace(noEmail, ipv4Re, "<IP>")
    regexp_replace(noIp, phoneRe, "<PHONE>")
  }

  /** URL part extraction for per-domain corpus statistics (the
    * CommonCrawl/C4-style grouping key). Deliberately regex-based rather
    * than `parse_url`: these patterns are in the Java-regex/RE2-identical
    * subset (see [[emailRe]] note), so an external engine — or the DuckDB
    * oracle — reproduces the extraction byte-for-byte, while `parse_url`
    * semantics differ across engines. Still pure per-row codegen.
    * Malformed input yields '' (regexp_extract's no-match result), which
    * groups malformed URLs into one visible bucket instead of throwing.
    */
  def urlHost(url: Column): Column =
    regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)

  /** Registrable-suffix heuristic: the last dot-separated label of the
    * host ("com", "org", country codes). A full public-suffix-list lookup
    * is a broadcast-join against the PSL table — out of scope for a
    * zero-egress build; the last-label heuristic is the documented stand-in.
    */
  def urlTld(url: Column): Column =
    regexp_extract(urlHost(url), "\\.([A-Za-z0-9-]+)$", 1)

  /** Path component ('' when absent), query/fragment excluded. */
  def urlPath(url: Column): Column =
    regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(/[^?#]*)", 1)

  /** Fraction of n-gram occurrences that are duplicates of an earlier
    * n-gram in the same document: 1 − distinct/total over token `n`-grams
    * — the Gopher-style repetition signal for filtering
    * boilerplate/degenerate text. Row-local (no shuffle); documents shorter
    * than `n` tokens yield one truncated gram and score 0. The double
    * division is exact-input IEEE, so cross-engine parity holds
    * bit-for-bit.
    *
    * Backed by the native codegen'd [[graft.functions.DupNgramFraction]]
    * expression — one pass over the UTF-8 bytes with zero-copy gram views.
    * The interpreted-HOF formulation it replaced (transform/sequence/
    * array_join/array_distinct, semantics proven identical in
    * ExpressionSpec) dispatched a lambda per gram and was the slowest hot
    * path in the engine (q33_repetition, 5.7 s at sf0.1).
    */
  def duplicateNgramFraction(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1: $n")
    GraftFunctions.ensureRegistered(SparkSession.active)
    call_function("dup_ngram_frac", text, lit(n))
  }

  /** Corpus-level boilerplate score: per document, the fraction of its
    * DISTINCT n-token shingles that occur in at least `minDf` documents
    * corpus-wide — high values flag shared headers/footers/templates that
    * per-document scores ([[duplicateNgramFraction]]) cannot see. The
    * CCNet/C4 shape: explode distinct shingles, one partial-aggregated
    * count per shingle (count(*) IS document frequency because shingles
    * are distinct within a doc), equi-join back on the shingle, re-
    * aggregate per doc. Every shuffle is keyed by shingle or id — nothing
    * all-pairs, nothing unpartitioned. Hot shingles (the boilerplate
    * itself, by definition) are the skew risk: AQE skew-join covers the
    * join-back; beyond that, cap shingle df at minDf with a pre-filtered
    * flag table instead of joining raw counts.
    */
  def boilerplateFraction(df: DataFrame, id: Column, text: Column,
      n: Int, minDf: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    require(minDf >= 2, s"minDf must be >= 2: $minDf")
    val sh = df.select(id.as("id"), explode(shingleSet(text, n)).as("__sh"))
      // used twice (df count + join back) — uncached, the corpus would
      // re-tokenize and re-explode per use (measured 4.8s -> 2.9s sf0.1)
      .cache()
    val docFreq = sh.groupBy(col("__sh"))
      .agg(count(lit(1)).as("__df"))
    sh.join(docFreq, Seq("__sh"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        round(sum(when(col("__df") >= minDf, 1L).otherwise(0L))
          / count(lit(1)), 6).as("boiler_frac"))
  }

  /** Fixed-size token chunking with overlap: each document explodes into
    * chunks of `chunkTokens` tokens starting every `chunkTokens − overlap`
    * tokens (the RAG/context-window preprocessing shape). The last chunk
    * may be shorter; every token lands in ≥ 1 chunk; a document never
    * yields zero rows (an empty/short doc is one chunk). Explode feeds
    * downstream partial aggregation — no shuffle is introduced here.
    */
  def chunkDocuments(df: DataFrame, id: Column, text: Column,
      chunkTokens: Int, overlap: Int = 0): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive: $chunkTokens")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens): $overlap")
    val stride = chunkTokens - overlap
    // chunks = 1 + ceil(max(n - chunkTokens, 0) / stride), via integer
    // ceil-div (values are far under 2^53, so the double floor is exact)
    df.select(id.as("id"), split(text, " ").as("__t"))
      .withColumn("__n", size(col("__t")))
      .withColumn("chunk_id", explode(sequence(lit(0),
        greatest(floor((col("__n") - chunkTokens + stride - 1)
          .cast(DoubleType) / stride).cast(LongType), lit(0L)))))
      .withColumn("chunk",
        array_join(slice(col("__t"),
          (col("chunk_id") * stride + 1).cast("int"), lit(chunkTokens)), " "))
      .withColumn("n_tokens",
        least(lit(chunkTokens), col("__n") - col("chunk_id") * stride)
          .cast(LongType))
      .select(col("id"), col("chunk_id"), col("chunk"), col("n_tokens"))
  }

  /** Language ID from corpus-derived token profiles: top-`profileSize`
    * tokens per observed language (needs a labeled subset in `langCol`),
    * prediction = argmax profile overlap with deterministic tiebreaks.
    * The profile table is tiny and broadcast. TOTAL over the input: a
    * document matching no profile comes back with a null `pred_lang` and
    * `hits` 0 rather than silently vanishing.
    */
  def languageId(df: DataFrame, id: Column, text: Column, langCol: Column,
      profileSize: Int = 5): DataFrame = {
    val byLang = Window.partitionBy(col("__lang"))
      .orderBy(col("__cnt").desc, col("__tok"))
    val profiles = df
      .select(langCol.as("__lang"),
        explode(split(lower(text), " ")).as("__tok"))
      .groupBy(col("__lang"), col("__tok")).agg(count(lit(1)).as("__cnt"))
      .withColumn("__rn", row_number().over(byLang))
      .filter(col("__rn") <= profileSize)
      .select(col("__lang").as("__p_lang"), col("__tok"))
    val byDoc = Window.partitionBy(col("__id"))
      .orderBy(col("__hits").desc, col("__p_lang"))
    // explode distinct doc tokens and equi-join on the token: a broadcast
    // HASH join (AQE-friendly) instead of the BroadcastNestedLoopJoin an
    // `array_contains(__dtoks, __tok)` predicate forces. Hit counts are
    // identical: profile rows are distinct (lang, token) pairs, so
    // (doc, lang) hits = |profile tokens of lang present in doc|.
    val preds = df.select(id.as("__id"),
        explode(array_distinct(split(lower(text), " "))).as("__dtok"))
      .join(broadcast(profiles), col("__dtok") === col("__tok"))
      .groupBy(col("__id"), col("__p_lang"))
      .agg(count(lit(1)).as("__hits"))
      .withColumn("__rn", row_number().over(byDoc))
      .filter(col("__rn") === 1)
      .select(col("__id"), col("__p_lang"), col("__hits"))
    df.select(id.as("__id")).distinct()
      .join(preds, Seq("__id"), "left")
      .select(col("__id").as("id"), col("__p_lang").as("pred_lang"),
        coalesce(col("__hits"), lit(0L)).as("hits"))
  }

  /** Per-document cross-entropy under the corpus's own unigram language
    * model: xent = −(1/n)·Σ ln p(tok), p(tok) = corpus count / total
    * tokens — the self-perplexity quality signal (high = the document's
    * vocabulary is atypical for the corpus; degenerate/boilerplate text
    * scores LOW). The classic model-free stand-in for a KenLM-style
    * perplexity filter in pretraining pipelines.
    *
    * Shapes: one explode feeding two partial-aggregated counts (term
    * frequencies, grand total), an equi-join back on token (AQE broadcasts
    * the count table when it is small — at corpus scale the vocabulary
    * table shuffles, still keyed and partial-aggregated), and one per-doc
    * aggregation. Every token present in the corpus has count >= 1, so
    * ln never sees 0. Fixed arithmetic: ln(cnt/total) per occurrence,
    * summed — the double sum is unordered, but per-doc sums land ~1e-13
    * apart across engines, far under 6-dp hashing.
    */
  def lmScore(df: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = df.select(id.as("id"),
      explode(split(lower(text), " ")).as("tok"))
    // vocabulary-sized; cached because the grand total now derives from
    // it (sum of per-token counts == token count — same long), replacing
    // a third full explode-the-corpus pass (r18)
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("__cnt"))
      .cache()
    val total = counts.agg(sum(col("__cnt")).as("__tot"))
    toks.join(counts, Seq("tok"))
      .crossJoin(broadcast(total))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        (-sum(log(col("__cnt").cast(DoubleType) / col("__tot").cast(DoubleType)))
          / count(lit(1))).as("xent"))
  }

  /** Bigram-LM cross-entropy: each document scored under the corpus's own
    * bigram conditional distribution, xent = −mean ln c(w1 w2)/c(w1 ·) —
    * one Markov order above [[lmScore]], the cheap KenLM-style fluency
    * filter (word-salad and shuffled text score high even when every
    * unigram is corpus-typical). Bigrams build row-local (`zip_with` over
    * adjacent slices, no shuffle); counts are two map-side-combinable
    * aggregations; the joins back are keyed by bigram/left-token (hot
    * stopword bigrams → AQE skew join). Documents with fewer than two
    * tokens have no bigrams and are absent from the output. The exploded
    * bigram table is cached — three downstream uses would otherwise
    * re-explode the corpus per use.
    */
  def lmScoreBigram(df: DataFrame, id: Column, text: Column): DataFrame = {
    val ts = split(lower(text), " ")
    val bi = df.select(id.as("id"),
        explode(zip_with(
          slice(ts, lit(1), size(ts) - 1), slice(ts, lit(2), size(ts) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .cache()
    val cb = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("__cnt"))
    val cl = bi.groupBy(col("w1")).agg(count(lit(1)).as("__lcnt"))
    bi.join(cb, Seq("w1", "w2")).join(cl, Seq("w1"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (-sum(log(col("__cnt").cast(DoubleType) / col("__lcnt").cast(DoubleType)))
          / count(lit(1))).as("xent"))
  }

  /** Bloom-filter decontamination: per-document count of distinct shingles
    * that MIGHT be in the benchmark corpus — the sub-linear-memory dual of
    * [[decontaminate]]. The benchmark shingle set folds into a Bloom
    * filter (bits = set-determined, so insertion order does not matter —
    * the filter is deterministic for a given (set, fpp)); the corpus probe
    * is then a pure map-side filter against kilobytes of broadcast bits,
    * where the exact path broadcasts the full shingle strings. One-sided
    * error: every truly-shared shingle hits (no false negatives — a doc
    * flagged clean IS clean), and false positives inflate counts by at
    * most fpp. Use when the eval suite outgrows comfortable broadcast or
    * as the cheap first pass before exact confirmation.
    *
    * The probe UDF is the one non-codegen step (Bloom bit probes hash
    * into a shared long[]; there is no builtin expression surface for a
    * driver-built filter) — it is branch-light and allocation-free, and
    * the shingle explode it filters feeds partial aggregation, so the
    * shape stays scale-safe.
    */
  def bloomDecontaminate(corpus: DataFrame, bench: DataFrame, id: Column,
      text: Column, benchText: Column, k: Int = 5,
      fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1): $fpp")
    val s = corpus.sparkSession
    val benchSh = bench
      .select(explode(shingleSet(benchText, k)).as("__sh")).distinct()
      .select(xxhash64(col("__sh")).as("__h"))
      // two ACTIONS consume it (count + bloomFilter build) — uncached
      // each re-exploded the benchmark corpus (r18)
      .cache()
    val bf = benchSh.stat.bloomFilter("__h",
      math.max(benchSh.count(), 1L), fpp)
    val bfB = s.sparkContext.broadcast(bf)
    // deliberate UDF (2 of 2 in main, with approxHeavyTokens' CMS probe):
    // a broadcast Bloom-bit probe with no builtin expression surface —
    // kilobyte read-only state, allocation-free, pre-aggregation filter
    val mightContain = udf((h: Long) => bfB.value.mightContainLong(h))
    corpus
      .select(id.as("id"), explode(shingleSet(text, k)).as("__sh"))
      .filter(mightContain(xxhash64(col("__sh"))))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bloom_hits"))
  }

  /** CDC apply-changes (MERGE/upsert): fold a change stream into a base
    * snapshot. `changes` carries the base's columns plus a numeric
    * `version` (strictly ordering changes per key; must be unique per key)
    * and an `op` column ('u' = upsert a full row, 'd' = delete the key).
    * The result is the post-merge snapshot: per key, the
    * highest-version row wins; a winning delete removes the key. Base
    * rows rank below every change (version −∞).
    *
    * Shape: union + ONE keyed window (the [[dedupExact]] shuffle) — the
    * relational core of what lakehouse MERGE INTO compiles to, and it
    * scales the same way: one hash shuffle on the key, row_number streams
    * each key's versions, state O(1) per key.
    */
  def applyChanges(base: DataFrame, changes: DataFrame, key: String,
      version: String, op: String): DataFrame =
    applyChanges(base, changes, Seq(key), version, op)

  /** Composite-key [[applyChanges]]: rows are identified by the tuple of
    * `keys` (one hash shuffle on the tuple, same cost shape as the
    * single-key form — the key arity never adds a pass).
    */
  def applyChanges(base: DataFrame, changes: DataFrame, keys: Seq[String],
      version: String, op: String): DataFrame = {
    require(keys.nonEmpty, "applyChanges needs at least one key column")
    val baseCols = base.columns.toSet
    require(!baseCols.contains(version) && !baseCols.contains(op),
      s"base must not already carry '$version'/'$op'")
    require(changes.columns.toSet == baseCols + version + op,
      s"changes must be base columns + ($version, $op): got " +
        changes.columns.mkString(","))
    val b = base
      .withColumn(version, lit(Long.MinValue))
      .withColumn(op, lit("u"))
    val merged = dedupExact(b.unionByName(changes),
      keys.map(col), Seq(col(version).desc))
    merged.filter(col(op) =!= "d").drop(version, op)
  }

  /** Top-`topK` terms per document by TF-IDF, with deterministic
    * tiebreaks. tf = term count / doc length; idf = ln(N / doc-freq);
    * the multiply/divide order is fixed so the doubles are reproducible
    * cross-engine (ln is 1-ulp libm — far under 6-dp hashing).
    * Shapes: one explode feeding two partial aggregations (term counts,
    * doc lengths), a tiny broadcast doc-frequency join keyed by token,
    * and a per-doc top-k window — every join is an equi-join, every
    * aggregate map-side combinable.
    */
  def tfidfTopTerms(df: DataFrame, id: Column, text: Column,
      topK: Int = 5): DataFrame = {
    val toks = df.select(id.as("id"),
      explode(split(lower(text), " ")).as("tok"))
    val tf = toks.groupBy(col("id"), col("tok")).agg(count(lit(1)).as("tc"))
    // r18 note: caching `tf` (read twice) measured slower at sf0.1
    // (+0.19 s on q33_tfidf) — left uncached; the row-local doc-length
    // change below is kept (it removed a full corpus explode).
    // r18: doc length counted ROW-LOCALLY (size of the token array) —
    // the explode+count formulation shuffled every token of every
    // document just to count them (bm25Scores precedent). Identical
    // counts: a null text generated no token rows before, hence the
    // filter; an empty text splits to [""] = 1 token, same as explode.
    val dlen = df.where(text.isNotNull)
      .select(id.as("id"),
        size(split(lower(text), " ")).cast(LongType).as("__rl"))
      .groupBy(col("id")).agg(sum(col("__rl")).as("dl"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("nd"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(dlen, Seq("id"))
      .join(dfreq, Seq("tok"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        (col("tc").cast(DoubleType) / col("dl").cast(DoubleType)) *
          log(col("n_docs").cast(DoubleType) / col("nd").cast(DoubleType)))
      .select(col("id"), col("tok"), col("tfidf"))
    topKPerGroup(scored, Seq(col("id")),
      Seq(col("tfidf").desc, col("tok")), topK)
  }

  /** Inverted index: one row per term with document frequency, total
    * occurrence count, and a capped posting list of `(doc:tf)` entries in
    * doc-id order — the search/retrieval dual of [[tfidfTopTerms]].
    *
    * Scale posture: the posting CAP is applied with a per-term window rank
    * BEFORE `collect_list`, so per-term aggregation state is bounded at
    * `maxPostings` structs even for stopwords that hit every document — an
    * uncapped `collect_set` would OOM on hot terms at corpus scale. Three
    * term-keyed shuffles, each with bounded state: per-(term,doc) partial
    * agg, the ranking window, and the stats/postings aggs whose join is
    * co-partitioned on `term` (no extra exchange).
    */
  def invertedIndex(df: DataFrame, id: Column, text: Column,
      maxPostings: Int = 20): DataFrame = {
    require(maxPostings >= 1, s"maxPostings must be >= 1: $maxPostings")
    val perDoc = df
      .select(id.as("doc"), explode(split(lower(text), " ")).as("term"))
      .groupBy(col("term"), col("doc")).agg(count(lit(1)).as("tf"))
    val stats = perDoc.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"))
    val ranked = perDoc
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("term")).orderBy(col("doc"))))
      .filter(col("__rn") <= maxPostings)
    val posts = ranked.groupBy(col("term"))
      .agg(sort_array(collect_list(struct(col("doc"), col("tf"))))
        .as("__ps"))
      .select(col("term"),
        array_join(transform(col("__ps"),
          p => concat(p.getField("doc").cast(StringType), lit(":"),
            p.getField("tf").cast(StringType))), ",").as("postings"))
    stats.join(posts, Seq("term"))
  }

  /** BM25 (Okapi) relevance scores for a fixed query-term set — the
    * lexical half of a hybrid retrieval stack (the dense half is
    * [[cosineTopK]]/ANN; [[rrfFuse]] combines them). Output: one row per
    * matching document, `(id, score)`, score = Σ over query terms of
    * idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) with the
    * standard Robertson idf = ln(1 + (N − df + 0.5)/(df + 0.5)).
    *
    * Scale posture: tokens are filtered to the query terms BEFORE the
    * (doc, term) partial aggregation, so only query-term hits shuffle —
    * and doc length is counted row-locally (`size(split(...))`), so its
    * aggregation shuffles one 16-byte (id, count) row per document, not
    * the corpus's tokens. The (N, avgdl) corpus stats are a 1-row
    * broadcast.
    * Per-doc summation uses [[Exact.dsum]] (decimal-exact, order-free) so
    * the score survives cross-engine hashing; the double math inside each
    * term contribution is per-row scalar, identical on IEEE engines.
    */
  def bm25Scores(df: DataFrame, id: Column, text: Column,
      queryTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    // tokens are lowercased — terms must match that normalization, or an
    // uppercase query term would silently match nothing
    val terms = queryTerms.map(_.toLowerCase)
    // doc length is counted row-locally — size(split(...)) — NOT by
    // exploding and re-aggregating the whole corpus (that shape shuffles
    // every token of every document just to count them; this one shuffles
    // a single (id, count) row per input row). The groupBy preserves the
    // explode formulation's semantics for non-unique ids (rows sharing an
    // id aggregate into ONE doc — without it, duplicate ids would fan out
    // the tf join and inflate scores), and the null-text filter mirrors
    // what explode did implicitly: a null text generates no token rows,
    // so such docs never entered dlen or the corpus stats.
    val dlen = df.where(text.isNotNull)
      .select(id.as("id"), size(split(lower(text), " ")).cast("long").as("__rl"))
      .groupBy(col("id")).agg(sum(col("__rl")).as("dl"))
    // r18 note: caching tf/dlen here measured slower at sf0.1 (+0.23 s
    // on q145) — the parallel re-evaluation beats the cache barriers at
    // this scale; left uncached deliberately.
    val tf = df.select(id.as("id"),
        explode(split(lower(text), " ")).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val stats = dlen.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"))
    val termScore = tf
      .join(dlen, Seq("id"))
      .join(broadcast(dfreq), Seq("tok"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs").cast(DoubleType) -
          col("df").cast(DoubleType) + lit(0.5)) /
          (col("df").cast(DoubleType) + lit(0.5))))
      .withColumn("norm",
        col("tf").cast(DoubleType) * lit(k1 + 1.0) /
          (col("tf").cast(DoubleType) + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl").cast(DoubleType) /
              col("avgdl"))))
      .select(col("id"), (col("idf") * col("norm")).as("s"))
    termScore.groupBy(col("id")).agg(graft.Exact.dsum(col("s")).as("score"))
  }

  /** Reciprocal-rank fusion of two rankings — the standard hybrid-search
    * combiner (lexical BM25 list ⊕ dense ANN list): each list contributes
    * 1/(k0 + rank) for the ids it contains, missing ids contribute
    * nothing, and the fused score orders the union. Inputs are
    * `(id, rank)` tables with dense 1-based integer ranks; the fusion is
    * pure integer→double scalar math, so it is bit-stable across engines
    * and cheap at any scale (a full outer equi-join on id).
    */
  def rrfFuse(rankA: DataFrame, rankB: DataFrame,
      k0: Int = 60): DataFrame = {
    require(k0 >= 1, s"k0 must be >= 1: $k0")
    rankA.select(col("id"), col("rank").as("rank_a"))
      .join(rankB.select(col("id"), col("rank").as("rank_b")),
        Seq("id"), "full_outer")
      .select(col("id"), col("rank_a"), col("rank_b"),
        (coalesce(lit(1.0) / (lit(k0.toDouble) +
            col("rank_a").cast(DoubleType)), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0.toDouble) +
            col("rank_b").cast(DoubleType)), lit(0.0))).as("rrf"))
  }

  /** Per-group Zipf rank-frequency fit: OLS slope/intercept of
    * ln(count) ~ ln(rank) over the group's token vocabulary — the corpus
    * health check (natural language tracks slope ≈ −1; templated or
    * machine-generated text bends the curve) and the vocabulary-sizing
    * input for tokenizer work. Rank is a fully-tiebroken keyed window
    * (count desc, token — binary collation on both engines); the fit
    * runs on first/second moments from one keyed aggregation. The moment
    * sums are unordered doubles, but slope ≈ n²·cov scales the ordering
    * noise to ~1e-13 relative — far under 6-dp hashing (the variance-
    * scale warning in Analytics applies to prices, not ln-scale values).
    */
  def zipfFit(df: DataFrame, group: Column, text: Column): DataFrame = {
    val cnt = df.select(group.as("grp"),
        explode(split(lower(text), " ")).as("w"))
      .groupBy(col("grp"), col("w")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("grp")).orderBy(col("c").desc, col("w"))
    val mom = cnt
      .withColumn("x", log(row_number().over(w).cast(DoubleType)))
      .withColumn("y", log(col("c").cast(DoubleType)))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    val n = col("n_types").cast(DoubleType)
    val slope = (n * col("sxy") - col("sx") * col("sy")) /
      (n * col("sxx") - col("sx") * col("sx"))
    mom.select(col("grp"), col("n_types"), slope.as("slope"),
      ((col("sy") - slope * col("sx")) / n).as("intercept"))
  }

  /** Token frequency top-N with deterministic tiebreak. */
  def tokenFrequency(df: DataFrame, text: Column, topN: Int): DataFrame =
    df.select(explode(split(lower(text), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(topN)

  /** Sketch dual of [[tokenFrequency]]: top-N via `approx_top_k` (Spark's
    * datasketches frequent-items aggregate). One pass, kilobyte mergeable
    * state — at 100 TB the exact variant shuffles the full (token, count)
    * vocabulary while this ships one ~`maxItemsTracked`-entry sketch per
    * partition (the q13_approx_distinct-vs-q12 posture, for frequency).
    * Guarantees (frequent-items law, proven in GraftApiSpec): with
    * `maxItemsTracked` ≥ the distinct-token count no eviction ever happens
    * and every returned count is EXACT; under eviction each estimate is
    * within the sketch's ±N/maxMapSize envelope, so sufficiently-heavy
    * hitters are always surfaced. Ties re-sort deterministically but the
    * boundary SELECTION may differ from exact under equal counts.
    */
  def tokenFrequencyApprox(df: DataFrame, text: Column, topN: Int,
      maxItemsTracked: Int): DataFrame = {
    val exploded = df.select(explode(split(lower(text), " ")).as("word"))
      .agg(expr(s"approx_top_k(word, $topN, $maxItemsTracked)").as("tk"))
      .select(explode(col("tk")).as("e"))
    // field names come from the sketch's struct schema (item, count) —
    // read positionally so a rename upstream cannot silently misbind
    val f = exploded.schema("e").dataType.asInstanceOf[StructType].fieldNames
    exploded.select(col(s"e.${f(0)}").as("word"),
        col(s"e.${f(1)}").cast(LongType).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
  }

  /** Positional rolling-hash fingerprint mod 1e9+7 (ANSI-safe modular
    * fold; order-sensitive, unlike the dedup signatures).
    */
  def fingerprint(df: DataFrame, id: Column, text: Column): DataFrame = {
    val P = 1000000007L
    val weights = Iterator.iterate(1L)(w => w * 31 % P).take(8).toSeq
    val wLit = array(weights.map(lit): _*)
    val terms = transform(split(text, " "), (t, i) =>
      pmod(phash32(t), lit(P)) * element_at(wLit, pmod(i, lit(8)) + 1))
    df.select(id.as("id"),
      aggregate(terms, lit(0L), (acc, x) => pmod(acc + x, lit(P)))
        .as("fingerprint"))
  }

  /** Gaps-and-islands: maximal runs of CONSECUTIVE integer ticks per key
    * (tick = any integer time index the caller derives — epoch day, hour
    * bucket, sequence number). The classic `tick − row_number()` trick:
    * within a key, consecutive ticks share the difference, so one keyed
    * window plus one keyed aggregation finds every maximal run — no
    * self-join, no iteration. Duplicate (key, tick) observations collapse
    * first so multiplicity can't split an island. Both shuffles are keyed
    * by `key`; no global window anywhere — the shape survives 1000
    * executors as long as a single key's tick set fits a partition (an
    * events-per-user table at any realistic scale).
    */
  def activityIslands(df: DataFrame, key: Column, tick: Column): DataFrame = {
    val t = df.select(key.as("key"), tick.cast(LongType).as("tick")).distinct()
    val w = Window.partitionBy(col("key")).orderBy(col("tick"))
    t.withColumn("__island", col("tick") - row_number().over(w))
      .groupBy(col("key"), col("__island"))
      .agg(min(col("tick")).as("start_tick"),
        max(col("tick")).as("end_tick"),
        count(lit(1)).as("n_ticks"))
      .drop("__island")
  }

  /** SCD2 history build: collapse an ordered per-key observation stream
    * into slowly-changing-dimension rows — one row per maximal run of
    * consecutive equal `attr` values, with `valid_from` = the run's first
    * order value and `valid_to` = the next run's `valid_from` (null for
    * the current/open run). The lakehouse dimension-table shape MERGE
    * pipelines maintain incrementally; this is the batch (re)build.
    *
    * Change detection is null-safe (`<=>`): a null attribute value forms
    * its own run rather than merging with neighbors. `order` must be
    * UNIQUE within a key (a change-sequence number, or an encoded
    * timestamp+id tiebreak) — ties would make run boundaries
    * partition-order-dependent. Three keyed windows + one keyed
    * aggregation, all partitioned by `key` — never a global window;
    * per-key history is assumed to fit a partition (dimension keys, not
    * fact rows).
    */
  def collapseScd2(df: DataFrame, key: Column, attr: Column,
      order: Column): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("__ord"))
    val runs = df.select(key.as("key"), attr.as("attr"), order.as("__ord"))
      .withColumn("__chg",
        when(row_number().over(w) === 1 ||
          !(lag(col("attr"), 1).over(w) <=> col("attr")), 1L).otherwise(0L))
      .withColumn("version",
        sum(col("__chg")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy(col("key"), col("version"))
      .agg(min(col("attr")).as("attr"), // constant within a run
        min(col("__ord")).as("valid_from"),
        count(lit(1)).as("n_obs"))
    val wv = Window.partitionBy(col("key")).orderBy(col("version"))
    runs.withColumn("valid_to", lead(col("valid_from"), 1).over(wv))
      .select(col("key"), col("version"), col("attr"),
        col("valid_from"), col("valid_to"), col("n_obs"))
  }

  /** Per-key interval union: merge overlapping/touching [start, end]
    * intervals into maximal spans and report per-key coverage — the
    * continuous-domain sibling of [[activityIslands]] (machine uptime,
    * session coverage, sensor validity windows). Classic sweep: within a
    * key, an interval starts a new span iff its start exceeds the running
    * max end of every earlier interval (exclusive-prefix max window);
    * span id = cumulative flag sum. Duplicate intervals and start-ties
    * are safe: rows with equal (start, end) are interchangeable under the
    * window order, and the running max is permutation-invariant over
    * them. Two keyed windows + two keyed aggregations, all partitioned
    * by `key`. Returns (key, n_spans, covered, min_start, max_end).
    */
  def intervalCoverage(df: DataFrame, key: Column, start: Column,
      end: Column): DataFrame = {
    val w = Window.partitionBy(col("key"))
      .orderBy(col("s"), col("e"))
    val prevMax = max(col("e")).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    df.select(key.as("key"), start.cast(LongType).as("s"),
        end.cast(LongType).as("e"))
      .withColumn("__new",
        when(prevMax.isNull || col("s") > prevMax, 1L).otherwise(0L))
      .withColumn("__span", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("key"), col("__span"))
      .agg(min(col("s")).as("span_s"), max(col("e")).as("span_e"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_e") - col("span_s")).as("covered"),
        min(col("span_s")).as("min_start"),
        max(col("span_e")).as("max_end"))
  }

  /** Per-document token-distribution stats: unigram Shannon entropy (nats)
    * and type-token ratio — the cheap lexical-diversity quality signals
    * (low entropy ⇒ repetitive/templated text; the corpus-free complement
    * of [[lmScore]]'s corpus-relative fluency). One explode feeding a
    * (doc, token) count, then a per-doc fold: entropy = ln n − (Σ c·ln c)/n
    * so the per-token term needs no division. Both aggregations are keyed
    * and map-side combinable; the double sum is unordered but per-doc terms
    * land ~1e-13 apart across engines — far under 6-dp hashing.
    */
  def tokenEntropy(df: DataFrame, id: Column, text: Column): DataFrame = {
    val c = col("__c").cast(DoubleType)
    df.select(id.as("id"), explode(split(lower(text), " ")).as("tok"))
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("__c"))
      .groupBy(col("id"))
      .agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        (log(sum(col("__c")).cast(DoubleType)) -
          sum(c * log(c)) / sum(col("__c")).cast(DoubleType)).as("entropy"),
        (count(lit(1)).cast(DoubleType) /
          sum(col("__c")).cast(DoubleType)).as("ttr"))
  }

  /** Canonical URL form for dedup keys: lowercased scheme + host, default
    * ports (:80/:443) dropped, fragment stripped, tracking query params
    * (utm_*, fbclid, gclid, ref) removed with separators repaired,
    * trailing slashes trimmed (bare root stays "/"). Everything is
    * decompose-with-`regexp_extract` + rebuild — per-row codegen'd
    * regexes restricted to constructs with identical Java-regex/RE2
    * semantics, so an external (DuckDB/Trino) pipeline computes the same
    * key byte-for-byte. Path case is preserved (paths are case-sensitive;
    * hosts are not). Non-tracking query params survive — a different
    * query string IS a different page. Input contract: absolute URLs
    * with a scheme (crawl frontiers store them resolved); a scheme-less
    * string passes through with an empty scheme/host rather than
    * erroring — filter those upstream.
    */
  def canonicalizeUrl(url: Column): Column = {
    // NOTE: bare scheme pattern has no group; host/rest patterns inline it
    // so their ([^/?#]+) capture stays group 1
    val schemeBody = "[A-Za-z][A-Za-z0-9+.-]*"
    val scheme = lower(regexp_extract(url, s"^($schemeBody)://", 1))
    val host = regexp_replace(
      lower(regexp_extract(url, s"^$schemeBody://([^/?#]+)", 1)),
      ":(80|443)$", "")
    val rest0 = regexp_replace(url, s"^$schemeBody://[^/?#]+", "")
    val rest1 = regexp_replace(rest0, "#.*$", "") // fragment
    val rest2 = regexp_replace(rest1, // tracking params, keep separator
      "([?&])(utm_[A-Za-z0-9_]+|fbclid|gclid|ref)=[^&#]*", "$1")
    val rest3 = regexp_replace( // repair "&&", "?&", dangling "?"/"&"
      regexp_replace(regexp_replace(rest2, "&&+", "&"), "\\?&", "?"),
      "[?&]+$", "")
    val rest4 = regexp_replace(rest3, "/+$", "") // trailing slashes
    concat(scheme, lit("://"), host,
      when(rest4 === "", "/").otherwise(rest4))
  }

  /** Per-group robust outlier scores: |x − median| / (1.4826 · MAD) — the
    * median-absolute-deviation z-score, immune to the outliers it hunts
    * (unlike stddev-based scores, where one extreme row inflates the
    * denominator and hides itself). Exact linear-interpolation medians
    * (`percentile` ≡ DuckDB `quantile_cont` — oracle-exact, proven by
    * q11_percentiles); two rounds of tiny per-group threshold tables
    * joined back (AQE broadcasts them — group counts, not row counts).
    * `approx_percentile` is the documented swap at extreme group
    * cardinality. Groups whose MAD is 0 (over half the values identical)
    * get null scores rather than ±Inf.
    */
  def robustOutlierScores(df: DataFrame, id: Column, group: Column,
      value: Column): DataFrame = {
    val base = df.select(id.as("id"), group.as("grp"), value.as("v"))
    // r18: med is one row per group but its lineage is an exact-percentile
    // buffer over the whole input, and withDev (its consumer) executes
    // twice below — cache the tiny threshold table so the buffering pass
    // runs once, and broadcast both threshold joins deliberately (their
    // post-aggregate sizes are unknown to the planner).
    val med = base.groupBy(col("grp"))
      .agg(expr("percentile(v, 0.5)").as("med"))
      .cache()
    val withDev = base.join(broadcast(med), Seq("grp"))
      .withColumn("__dev", abs(col("v") - col("med")))
    val mad = withDev.groupBy(col("grp"))
      .agg(expr("percentile(__dev, 0.5)").as("mad"))
    withDev.join(broadcast(mad), Seq("grp"))
      .select(col("id"), col("grp"), col("v"), col("med"), col("mad"),
        when(col("mad") > 0.0, col("__dev") / (lit(1.4826) * col("mad")))
          .as("score"))
  }

  /** Canonical undirected edge list: (a, b) with a < b, deduplicated. */
  private def normalizedEdges(pairs: DataFrame): DataFrame =
    pairs.toDF("a", "b").where(col("a") < col("b")).distinct()

  /** Per-node degree (n, d) over a normalized edge list. */
  private def nodeDegrees(e: DataFrame): DataFrame =
    e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))

  /** Exact triangle listing over an undirected pair graph (edges as
    * (a, b) with a < b, e.g. a near-dup candidate graph): the standard
    * degree-ordered two-join algorithm — orient every edge from the
    * lower-(degree, id) endpoint to the higher, join oriented edges on
    * their source to enumerate wedges, then confirm the closing edge with
    * one more equi-join. Degree orientation bounds each source's fan-out
    * by O(√|E|) (arboricity argument), which is what keeps the wedge
    * table linear-ish on skewed graphs — the naive a<b<c orientation
    * explodes on hub nodes. All three shuffles are keyed equi-joins.
    * Output: one row per triangle, corners sorted ascending.
    *
    * `maxDegree`: mega-clique guard. A k-clique contributes C(k,3)
    * triangles — output volume, not plan shape, is what blows up on a
    * pathological component (a 248-member exact-dup clique alone is
    * ~2.5M rows; at corpus scale a mega-clique would OOM any lister).
    * With the cap set, nodes whose degree exceeds it are excluded from
    * enumeration entirely (their edges are dropped BEFORE orientation,
    * so surviving-node degrees and the O(√|E|) bound are computed on
    * the pruned graph). The excluded nodes are not silent: list them
    * with [[highDegreeNodes]] — for an exact-dup signature clique the
    * closed form C(k,3) recovers the skipped count without enumeration.
    */
  def triangles(pairs: DataFrame, maxDegree: Option[Long] = None): DataFrame = {
    // r18 note: normalizedEdges is read several times below (degree
    // census + semi-join base + orientation), but caching e0/e was
    // measured SLOWER at sf0.1 (2.3 s → 3.2 s): the redundant branches
    // evaluate in parallel across idle cores, while each extra cache is
    // a serializing materialization barrier. Left uncached deliberately;
    // `oriented` (read 3× by the wedge/confirm joins) keeps its cache.
    val e0 = normalizedEdges(pairs)
    val e = maxDegree match {
      case None => e0
      case Some(cap) =>
        val keep = nodeDegrees(e0).where(col("d") <= cap).select(col("n"))
        e0.join(keep.withColumnRenamed("n", "a"), Seq("a"), "semi")
          .join(keep.withColumnRenamed("n", "b"), Seq("b"), "semi")
          .select(col("a"), col("b"))
    }
    val deg = nodeDegrees(e)
    // orient by (degree, id): src = smaller endpoint under that total
    // order; carry the dst's (degree, id) rank so wedges can reuse it
    val lt = (col("da") < col("db")) ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = e
      .join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), Seq("a"))
      .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), Seq("b"))
      .select(
        when(lt, col("a")).otherwise(col("b")).as("src"),
        when(lt, col("b")).otherwise(col("a")).as("dst"),
        when(lt, col("db")).otherwise(col("da")).as("dd"))
      .cache() // used three times below; uncached each use re-joins degrees
    // wedge endpoints ordered by the SAME (degree, id) order as the
    // orientation, so a closing edge between them — if one exists — is
    // oriented exactly u→v, and the confirm join is a pure equi-join
    // (an either-direction OR condition would degrade to a nested loop).
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.dd") < col("e2.dd") ||
            (col("e1.dd") === col("e2.dd") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("apex"),
        col("e1.dst").as("u"), col("e2.dst").as("v"))
    val closed = wedges.join(oriented,
      col("src") === col("u") && col("dst") === col("v"))
    closed.select(
      least(col("apex"), col("u"), col("v")).as("x"),
      array_sort(array(col("apex"), col("u"), col("v"))).getItem(1).as("y"),
      greatest(col("apex"), col("u"), col("v")).as("z"))
  }

  /** The skip list for [[triangles]]' `maxDegree` guard: every node whose
    * degree in the (deduplicated, undirected) pair graph exceeds the cap,
    * with its degree — the audit record of what enumeration excluded. One
    * keyed agg; join it back to a signature/cluster table to recover
    * closed-form triangle counts (C(k,3) per k-clique) for the skipped
    * components without ever enumerating them.
    */
  def highDegreeNodes(pairs: DataFrame, maxDegree: Long): DataFrame =
    nodeDegrees(normalizedEdges(pairs)).where(col("d") > maxDegree)

  /** Cluster collapse / survivorship: the step that USES a dup graph —
    * resolve pairs into connected components ([[dupClusters]]), attach
    * every row to its cluster (rows in no pair are their own singleton
    * cluster), keep ONE canonical row per cluster under `order` (e.g.
    * longest text, then lowest id), and report per-cluster stats. This is
    * the materialization a cleaning pipeline actually writes: survivors +
    * an audit of what each absorbed. Shapes: the CC resolution is the
    * pointer-jumping loop (O(log diameter) rounds); everything after is
    * keyed joins/aggs on id or cluster — the label table is dup-graph
    * nodes only (a small fraction of the corpus), AQE-broadcastable.
    */
  def collapseClusters(df: DataFrame, pairs: DataFrame, id: Column,
      order: Seq[Column], stats: Seq[(String, Column)] = Nil): DataFrame = {
    val labels = dupClusters(pairs).withColumnRenamed("id", "__cid")
    // withCluster is read twice (stats agg + keep-first dedup) but NOT
    // cached: it carries every df column (document bodies included), and
    // caching it was measured slower at sf0.1 than re-running the label
    // join — labels itself is already cached inside dupClusters, so the
    // recompute is one cheap broadcast join per use.
    val withCluster = df.withColumn("__cid", id)
      .join(labels, Seq("__cid"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("__cid")))
    val agg = withCluster.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        stats.map { case (n, c) => c.as(n) }: _*)
    dedupExact(withCluster, Seq(col("cluster")), order)
      .select(col("cluster"), col("__cid").as("keep_id"))
      .join(agg, Seq("cluster"))
  }

  /** Exact grouped k-NN self-join: for every vector, its `k` most
    * cosine-similar neighbors WITHIN its blocking group (label, IVF cell,
    * LSH bucket — any partition key that bounds the candidate set). The
    * calibration workhorse: sweep the returned sim distribution to pick
    * near-dup thresholds before a full dedup run. Self-pairs excluded;
    * rank ties broken by neighbor id. The pair join is group-blocked
    * (never all-pairs) and the native codegen'd cosine runs map-side;
    * per-vector top-k is one keyed window. Unblocked corpus-wide kNN
    * at scale goes through the ANN paths (annAssignCells / annSrpCodes)
    * instead — this is the exact in-cell refinement step.
    */
  def knnWithinGroups(df: DataFrame, id: Column, group: Column, vec: Column,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = SparkSession.active
    val e = df.select(id.as("id"), group.as("grp"), vec.as("v"))
    val pairs = e.as("a").join(e.as("b"),
        col("a.grp") === col("b.grp") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id"), col("a.grp").as("grp"),
        col("b.id").as("nn_id"),
        GraftFunctions.cosineSim(spark, col("a.v"), col("b.v")).as("sim"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("sim").desc, col("nn_id"))
    pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("id"), col("grp"), col("rank"), col("nn_id"), col("sim"))
  }

  /** Asymmetric shingle containment: pairs (a, b) where at least
    * `minContain` of a's distinct `n`-token shingles also occur in b —
    * the quote/excerpt/sub-document detector Jaccard misses (a short
    * quote inside a long page has high containment but near-zero
    * Jaccard). Candidates come from an exploded-shingle equi-join;
    * shingles with document frequency > `maxDf` are excluded from
    * candidate generation AND intersection counts (both sides of the
    * score, so the metric stays well-defined): stopword-like shingles
    * otherwise dominate the join at corpus scale while carrying no
    * quote signal. Denominator = a's distinct shingles with df ≤ maxDf.
    * Shingles travel as [[phash32]] keys — 8-byte longs through every
    * shuffle instead of n-token strings (the dominant cost at corpus
    * scale: measured 6.2 s → ~2 s at sf0.1), portable (md5 prefix) so an
    * external engine reproduces the same keys; a 32-bit collision folds
    * two shingles IDENTICALLY on every engine (deterministic, ~1e-3
    * relative at 10⁶ distinct shingles — noise against a containment
    * threshold). Every shuffle is keyed by shingle-hash or by pair —
    * never all-pairs.
    */
  def shingleContainment(df: DataFrame, id: Column, text: Column, n: Int,
      minContain: Double, maxDf: Long = Long.MaxValue): DataFrame = {
    require(n >= 1 && minContain > 0.0 && minContain <= 1.0 && maxDf >= 1)
    val sh = df.select(id.as("id"),
        explode(array_distinct(transform(shingleSet(text, n),
          t => phash32(t)))).as("sh"))
      .cache() // feeds df-count, sizes, and the pair join
    val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("__df"))
    // denominator: ALL of a's shingles with df <= maxDf (df = 1 included)
    val sizes = sh.join(dfreq.where(col("__df") <= maxDf), Seq("sh"))
      .groupBy(col("id")).agg(count(lit(1)).as("__sz"))
    // pair probe: only shingles that CAN pair (2 <= df <= maxDf) enter
    // pair generation — on a real corpus most shingles are unique, so
    // this drops the dominant share of input without changing a single
    // output row (a df-1 shingle only ever meets itself, which id != id
    // discards). r18: the pairs expand row-locally from a per-shingle id
    // bucket instead of a `shared` self-join — the shared frame's
    // cache-read + join lineage ran once per side; the bucket arrays are
    // bounded by maxDf (the df filter runs BEFORE the collect), which is
    // the same cap that bounded the join's per-shingle fan-out.
    val shared = sh.join(
      dfreq.where(col("__df") >= 2 && col("__df") <= maxDf).select(col("sh")),
      Seq("sh"))
    shared.groupBy(col("sh"))
      .agg(collect_list(col("id")).as("__ids"))
      .select(explode(col("__ids")).as("id_a"), col("__ids"))
      .select(col("id_a"), explode(col("__ids")).as("id_b"))
      .where(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.withColumnRenamed("id", "id_a"), Seq("id_a"))
      .withColumn("containment",
        col("n_shared").cast(DoubleType) / col("__sz").cast(DoubleType))
      .where(col("containment") >= minContain)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("containment"))
  }

  /** Exact-k deterministic per-group sample: the k rows per group whose
    * md5(id) sorts lowest — the "N eval docs per language" draw. Unlike
    * rate-based [[hashSampleStratified]] (keep-probability per row, size
    * varies), this guarantees EXACTLY min(k, |group|) rows; the hash
    * order makes the draw reproducible across runs/engines and indifferent
    * to input order. One keyed window — row_number streams each group in
    * O(1) memory, so a hot group can't blow an executor.
    */
  def sampleKPerGroup(df: DataFrame, group: Column, id: Column,
      k: Int): DataFrame =
    topKPerGroup(df, Seq(group), Seq(md5(id.cast(StringType)), id), k)

  /** Exact two-sample Kolmogorov–Smirnov statistic:
    * D = max over x of |F_a(x) − F_b(x)| — the standard distribution-drift
    * gate between corpus snapshots (alert when a feed's length/score/price
    * distribution shifts, not just its mean). Exact, not binned: both
    * empirical CDFs are evaluated at every distinct value. Shape: counts
    * collapse to one row per DISTINCT value first (ties would otherwise
    * make a running sum order-ambiguous), then the inclusive cumulative
    * counts come from the chunked [[prefixSumExclusive]] (value-range
    * chunks + broadcast carry — never a single-task global window; pick
    * `chunkSize` ~ the value spread per 64k distinct values). All D
    * inputs are ratios of exact integer counts — bit-reproducible.
    * Returns one row: (n_a, n_b, d_stat).
    */
  def ksStatistic(a: DataFrame, b: DataFrame, value: Column,
      chunkSize: Long = 1L << 12): DataFrame = {
    val ua = a.select(value.cast(DoubleType).as("v"),
      lit(1L).as("__ca"), lit(0L).as("__cb"))
    val ub = b.select(value.cast(DoubleType).as("v"),
      lit(0L).as("__ca"), lit(1L).as("__cb"))
    val byV = ua.unionAll(ub).groupBy(col("v"))
      .agg(sum(col("__ca")).as("na"), sum(col("__cb")).as("nb"))
      // distinct-value-sized (the documented ECDF shape), read by the
      // prefix scan's two branches AND the totals — uncached each read
      // re-scans both inputs (r18: the q72 plan held 10 parquet scans)
      .cache()
    val cum = prefixSumsExclusive(byV, col("v"),
      Seq(col("na") -> "pa", col("nb") -> "pb"), chunkSize)
    val tot = byV.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
    cum.crossJoin(broadcast(tot))
      .select(col("ta"), col("tb"),
        // an empty side has no CDF: null d_stat, never NaN/Infinity
        when(col("ta") > 0 && col("tb") > 0,
          abs((col("pa") + col("na")).cast(DoubleType) / col("ta").cast(DoubleType) -
            (col("pb") + col("nb")).cast(DoubleType) / col("tb").cast(DoubleType)))
          .as("__d"))
      .groupBy(col("ta").as("n_a"), col("tb").as("n_b"))
      .agg(max(col("__d")).as("d_stat"))
  }

  /** Adjacent-token PMI collocations: ln(c(ab)·N / (c(a·)·c(·b))) over
    * corpus bigrams with a count floor — the association-mining pass
    * behind tokenizer-vocab and stop-phrase decisions. Marginals are
    * positional (left-slot vs right-slot counts), so the identity
    * pmi = ln N − xent-style terms holds exactly and the double math is
    * reproducible cross-engine. Bigrams build row-local; all three
    * counts are keyed, map-side-combinable aggregations; the joins back
    * are by single token (hot stopwords → AQE skew join). A window-w
    * skip-gram generalization is the same shape with w explode terms.
    */
  def pmiBigrams(df: DataFrame, text: Column, minCount: Long,
      topN: Int): DataFrame = {
    val ts = split(lower(text), " ")
    val bi = df.select(explode(zip_with(
        slice(ts, lit(1), size(ts) - 1), slice(ts, lit(2), size(ts) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .cache() // feeds pair counts, both marginals, and the grand total
    val cnt = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val left = bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val right = bi.groupBy(col("w2")).agg(count(lit(1)).as("c2"))
    val total = bi.agg(count(lit(1)).as("n"))
    cnt.where(col("c12") >= minCount)
      .join(left, Seq("w1")).join(right, Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c12"),
        log(col("c12").cast(DoubleType) * col("n").cast(DoubleType) /
          (col("c1").cast(DoubleType) * col("c2").cast(DoubleType)))
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Bounded-horizon exponentially weighted moving average per key: for
    * each row, ewma = Σ_{j<m} decay^j·x_{t−j} · (1−decay)/(1−decay^m)
    * over the last m ≤ `horizon` rows of the key's order. The exact
    * (unbounded) EWMA is a sequential recurrence — hostile to both SQL
    * windows and partition-parallel execution — but its tail weight decays
    * geometrically, so truncating at `horizon` bounds the error by
    * decay^horizon (≈0.028 for 0.8^16) while renormalizing keeps the
    * weights a proper convex combination (a length-m prefix is EXACT, not
    * approximated). The frame is ROWS-bounded, so the collected list is
    * O(horizon) per row regardless of key cardinality — one keyed shuffle,
    * row-local fold, no growing state. Appends column "ewma".
    */
  def ewma(df: DataFrame, key: Column, order: Seq[Column], value: Column,
      decay: Double, horizon: Int): DataFrame = {
    require(decay > 0 && decay < 1, s"decay must be in (0,1): $decay")
    require(horizon >= 1, s"horizon must be >= 1: $horizon")
    val w = Window.partitionBy(key).orderBy(order: _*)
      .rowsBetween(-(horizon - 1), Window.currentRow)
    val lst = col("__ewma_lst")
    df.withColumn("__ewma_lst", collect_list(value).over(w))
      // list is frame-ordered oldest→newest; element i (0-based) of an
      // m-long list gets weight decay^(m−1−i). The fold is sequential in
      // that order on both engines, so 6-dp rounding is stable.
      .withColumn("ewma",
        // Exact.round6: the input series is caller-supplied and may be
        // signed — a near-zero smoothed value can round to -0.0
        graft.Exact.round6(
          aggregate(
            transform(lst, (x, i) =>
              x * pow(lit(decay), (size(lst) - 1 - i).cast(DoubleType))),
            lit(0.0), (acc, y) => acc + y)
            * (1.0 - decay) / (lit(1.0) - pow(lit(decay), size(lst)))))
      .drop("__ewma_lst")
  }

  /** Population Stability Index drift between a baseline and a current
    * slice of one value column: fixed-width bins (no data-dependent
    * cutpoints — deterministic, join-free, and identical across engines),
    * Laplace-smoothed shares p = (n + ½)/(N + ½·B) so empty-on-one-side
    * bins contribute a finite penalty instead of ±∞, and the per-bin PSI
    * term (p_cur − p_base)·ln(p_cur/p_base). Σ over bins is the classic
    * PSI score (>0.2 = major shift); emitting per-bin rows keeps WHERE the
    * mass moved visible. Two keyed aggregations over the raw data, then a
    * broadcast of the one-row totals — the bin relation after aggregation
    * is O(range/width), never row-scale, so the final math is free.
    */
  def psiDrift(df: DataFrame, current: Column, value: Column,
      binWidth: Double): DataFrame = {
    require(binWidth > 0, s"binWidth must be > 0: $binWidth")
    val bins = df
      .select((floor(value / binWidth) * binWidth).as("bin"),
        current.as("__cur"))
      .groupBy(col("bin"))
      .agg(sum(when(!col("__cur"), 1L).otherwise(0L)).as("n_base"),
        sum(when(col("__cur"), 1L).otherwise(0L)).as("n_cur"))
    // r18 note: caching `bins` (read twice) measured slower at sf0.1
    // (+0.17 s on q86) — barrier > one re-scan; left uncached.
    val totals = bins.agg(
      sum(col("n_base")).cast(DoubleType).as("__tb"),
      sum(col("n_cur")).cast(DoubleType).as("__tc"),
      count(lit(1)).cast(DoubleType).as("__nb"))
    val pb = (col("n_base") + 0.5) / (col("__tb") + lit(0.5) * col("__nb"))
    val pc = (col("n_cur") + 0.5) / (col("__tc") + lit(0.5) * col("__nb"))
    bins.crossJoin(broadcast(totals))
      .select(col("bin"), col("n_base"), col("n_cur"),
        // Exact.round6, not round(_, 6): a contribution can round to -0.0
        // (tiny negative drift), which hash-differs from the oracle's 0.0
        graft.Exact.round6((pc - pb) * log(pc / pb)).as("psi_contrib"))
  }

  /** Blocked fuzzy record linkage: distinct names, self-joined within a
    * caller-chosen blocking key (phonetic bucket, first/last token, zip —
    * whatever bounds a cell), scored by the native [[graft.functions
    * .JaroWinkler]] kernel, kept at `threshold`. The three scale levers:
    * names DEDUP before pairing (at corpus scale the same name repeats
    * millions of times — pair distinct strings, join survivors back by
    * equality), the block equi-join bounds candidates to cell² instead of
    * n² (pick keys whose cells stay ~10³-10⁴; salt or sub-block hot
    * cells), and the O(l²)-per-pair kernel runs in codegen. Emits
    * (n1, n2, jw) with n1 < n2 so each pair appears once.
    */
  def linkRecords(df: DataFrame, name: Column, block: Column,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"bad threshold: $threshold")
    GraftFunctions.ensureRegistered(SparkSession.active)
    val names = df.select(name.as("name"), block.as("__blk")).distinct()
    val jw = call_function("jaro_winkler", col("n1"), col("n2"))
    names.select(col("name").as("n1"), col("__blk"))
      .join(names.select(col("name").as("n2"), col("__blk")), Seq("__blk"))
      .where(col("n1") < col("n2"))
      // filter on the raw double (the score IS the predicate); round only
      // the emitted column
      .withColumn("__jw", jw)
      .where(col("__jw") >= threshold)
      .select(col("n1"), col("n2"), round(col("__jw"), 6).as("jw"))
  }

  /** Market-basket co-occurrence: item pairs that appear in ≥ `minSupport`
    * shared baskets, with lift = N·supp(a,b) / (supp(a)·supp(b)). Pairs
    * expand within each basket's sorted distinct item set — candidate
    * count is Σ basket_size², bounded by the data's basket size (never
    * n²); the set both dedups repeat lines and shrinks the expansion.
    * Marginals join back per item (equi, partial-agg'd) and the one-row
    * basket total rides a broadcast. At skew
    * (one mega-basket) cap or sub-sample giant baskets upstream — a
    * 10⁶-item basket is 10¹² pairs no engine should emit.
    */
  def coPurchasePairs(df: DataFrame, basket: Column, item: Column,
      minSupport: Long): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1: $minSupport")
    // ONE basket-keyed shuffle: collect_set dedups (basket, item) inside
    // the aggregate, and the pairs, the marginals and the basket total
    // all derive from the same cached basket table. NULL baskets are
    // dropped (a basket-key join never matched NULL, and the total
    // counts distinct non-NULL baskets).
    val baskets = df.where(basket.isNotNull).groupBy(basket.as("__bk"))
      .agg(sort_array(collect_set(item)).as("__its"))
      .cache()
    val supp = expandPairs(baskets, "__its")
      .groupBy(col("a").as("p1"), col("b").as("p2"))
      .agg(count(lit(1)).as("supp"))
      .where(col("supp") >= minSupport)
    val marg = baskets.select(explode(col("__its")).as("__it"))
      .groupBy(col("__it")).agg(count(lit(1)).as("__c"))
    val total = baskets.agg(count(lit(1)).as("__n"))
    supp
      .join(marg.select(col("__it").as("p1"), col("__c").as("__c1")), Seq("p1"))
      .join(marg.select(col("__it").as("p2"), col("__c").as("__c2")), Seq("p2"))
      .crossJoin(broadcast(total))
      .select(col("p1"), col("p2"), col("supp"),
        // all factors are exact ints < 2^53: one double division total
        round(col("supp").cast(DoubleType) * col("__n").cast(DoubleType) /
          (col("__c1").cast(DoubleType) * col("__c2").cast(DoubleType)), 6)
          .as("lift"))
  }

  /** Benford first-significant-digit profile of an exact integer column
    * (pass prices as cents — floating log10 near a power of ten must not
    * decide the digit, so it is read off the decimal string, which both
    * engines format identically for integers). Emits per digit: observed
    * count, expected count N·log10(1+1/d), and the χ² term (O−E)²/E —
    * Σ over the 9 rows is the test statistic; per-digit rows show where
    * the deviation lives (fraud/synthetic-data forensics). One keyed
    * 9-group aggregation + a broadcast one-row total: free at any scale.
    */
  def benfordDigits(df: DataFrame, cents: Column): DataFrame = {
    val d = df.select(
        substring(cents.cast(StringType), 1, 1).cast("int").as("digit"))
      .where(col("digit") >= 1) // guard: zero/negative values have no digit
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = d.agg(sum(col("n")).cast(DoubleType).as("__t"))
    val e = col("__t") * log10(lit(1.0) + lit(1.0) / col("digit"))
    d.crossJoin(broadcast(total))
      .select(col("digit"), col("n"), round(e, 6).as("expected"),
        round((col("n") - e) * (col("n") - e) / e, 6).as("chi2_term"))
  }

  /** Per-key OLS slope of `y` over `x` from EXACT integer moments: one
    * keyed aggregation of (n, Σx, Σy, Σxy, Σx²) in int64, then the
    * closed form (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) evaluated once in double —
    * bit-identical at any partition count, unlike builtin `regr_slope`
    * whose float partials merge in partition order (the engine's exact-
    * moments rule, Analytics header). Caller contract: x and y are
    * integers pre-scaled so n·max|x·y| fits int64 — offset x to a per-key
    * baseline (days since first event) and y to cents; raw epoch seconds
    * squared would overflow. Keys with < `minPoints` rows or zero
    * x-variance (vertical line) are dropped, not NaN'd. Emits
    * (k, n, slope).
    */
  def linearTrend(df: DataFrame, key: Column, x: Column, y: Column,
      minPoints: Long): DataFrame = {
    require(minPoints >= 2, s"minPoints must be >= 2: $minPoints")
    val a = df.select(key.as("k"), x.as("__x"), y.as("__y"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("sx"), sum(col("__y")).as("sy"),
        sum(col("__x") * col("__y")).as("sxy"),
        sum(col("__x") * col("__x")).as("sxx"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    a.where(col("n") >= minPoints && den =!= 0)
      .select(col("k"), col("n"),
        // Exact.round6: a slightly-negative slope can round to -0.0,
        // which hash-differs from the oracle's 0.0
        graft.Exact.round6(num.cast(DoubleType) / den.cast(DoubleType))
          .as("slope"))
  }

  /** Theil–Sen robust trend per key: the MEDIAN of pairwise slopes
    * (y_j − y_i)/(x_j − x_i) over observation pairs at rank distance
    * 1..`maxLag`, per key — the estimator that shrugs off the outliers
    * that drag [[linearTrend]]'s OLS slope (one bad sensor reading moves
    * OLS by O(residual); it moves a median of slopes not at all). The
    * full Theil–Sen is all O(n²) pairs; bounding pairs to a rank band is
    * the standard scale variant and keeps the work O(n·maxLag) per key.
    *
    * Shape (r19): ONE keyed window — each row reads its next `maxLag`
    * neighbors with `lead(struct(x, y), i)` over the same (x, tieBreak)
    * ordering and emits their slopes row-locally, then one exact-median
    * aggregate. This replaces the r18 rank-explode + equi-join-back
    * plan, which ran the ranking window lineage TWICE (probe + build
    * side of the join) and shuffled/broadcast the ranked table a second
    * time: 2 window lineages + 1 join → 1 window, same pair set
    * ((rank, rank+i) for i ≤ maxLag, within key, null keys excluded
    * exactly as the former join's key equality did). One STRUCT lead per
    * lag, not one per column: measured 0.98 s vs 2.2 s at sf0.1 — every
    * distinct lead is its own offset frame processor over the partition
    * buffer, so 8 frames beat 16 — and vs 1.1 s for the old join plan.
    * Ties in x (duplicate timestamps) drop that pair (slope undefined);
    * a pair whose y is null still counts toward n_pairs (its slope is
    * null, which the median skips), exactly as the join form did.
    */
  def theilSenSlopes(df: DataFrame, key: Column, x: Column, y: Column,
      tieBreak: Column, maxLag: Int = 8, minPairs: Long = 3): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1: $maxLag")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("__x"), col("__tb"))
    val lags = (1 to maxLag).map(i =>
      lead(struct(col("__x"), col("__y")), i).over(w))
    df.select(key.as("k"), x.cast(DoubleType).as("__x"),
        y.cast(DoubleType).as("__y"), tieBreak.as("__tb"))
      // the former plan's join on key equality never matched NULL keys
      .where(col("k").isNotNull)
      // window exprs first (a generator may not contain them), then the
      // row-local explode of the per-lag neighbor structs
      .select(col("k"), col("__x"), col("__y"), array(lags: _*).as("__ls"))
      .select(col("k"), col("__x"), col("__y"),
        explode(col("__ls")).as("__n"))
      // null __n (past the partition end) fails the inequality too
      .where(col("__n.__x") =!= col("__x"))
      .select(col("k"),
        ((col("__n.__y") - col("__y")) / (col("__n.__x") - col("__x")))
          .as("__slope"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        graft.Exact.round6(
          expr("percentile(__slope, 0.5)")).as("ts_slope"))
      .where(col("n_pairs") >= minPairs)
  }

  /** Two-sided LINEAR interpolation of missing values per key: each null
    * takes the straight line between its nearest known neighbors (by
    * `ord`) on either side; a leading gap back-fills from the next known
    * value, a trailing gap carries the last known forward (LOCF), so
    * only an all-null key stays null — the time-series imputation step
    * one notch above [[resampleFfill]]'s step function. Two keyed
    * windows (forward + backward accumulation), no joins, no state:
    * the same one-shuffle cost profile as LOCF at any scale.
    */
  def interpolateLinear(df: DataFrame, key: Column, ord: Column,
      value: Column, tieBreak: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fwd = Window.partitionBy(key).orderBy(ord, tieBreak)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bwd = Window.partitionBy(key).orderBy(ord, tieBreak)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val o = ord.cast(DoubleType)
    val v = value.cast(DoubleType)
    val known = when(v.isNotNull, o)
    val pv = last(v, ignoreNulls = true).over(fwd)
    val po = last(known, ignoreNulls = true).over(fwd)
    val nv = first(v, ignoreNulls = true).over(bwd)
    val no = first(known, ignoreNulls = true).over(bwd)
    df.withColumn("interp",
      when(v.isNotNull, v)
        .when(pv.isNull, nv)                 // leading gap: back-fill
        .when(nv.isNull, pv)                 // trailing gap: LOCF
        // tied ords around the gap (duplicate timestamps): the line is
        // degenerate ((o-po)/(no-po) = 0/0 → NaN) — fall back to the
        // previous known value, the LOCF convention
        .when(no === po, pv)
        .otherwise(pv + (nv - pv) * (o - po) / (no - po)))
  }

  /** TTL dedup (rate limiting): per key, keep a row only if ≥ `ttlSeconds`
    * elapsed since the last KEPT row — the anchor semantics behind
    * "at most one alert/snapshot per user per hour". This is genuinely
    * sequential (whether a row survives depends on which earlier rows
    * survived), so no window/self-join formulation exists; the scale shape
    * is `flatMapSortedGroups`: one keyed shuffle, Spark's secondary sort
    * streams each group ordered by (time, tieBreak) through an O(1)-state
    * iterator — no per-group materialization, spill-safe, same cost
    * profile as a window. The batch dual of the streaming
    * dropDuplicatesWithinWatermark family. Key is grouped by its string
    * form; `tieBreak` must complete a total order for determinism.
    */
  def dedupWithinTtl(df: DataFrame, key: Column, time: Column,
      ttlSeconds: Long, tieBreak: Column): DataFrame = {
    require(ttlSeconds > 0, s"ttlSeconds must be > 0: $ttlSeconds")
    val prep = df.withColumn("__ttl_k", key.cast(StringType))
      .withColumn("__ttl_t", time.cast(LongType))
    implicit val rowEnc: org.apache.spark.sql.Encoder[
      org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(prep.schema)
    import org.apache.spark.sql.Encoders
    val kIdx = prep.schema.fieldIndex("__ttl_k")
    val tIdx = prep.schema.fieldIndex("__ttl_t")
    prep.groupByKey(_.getString(kIdx))(Encoders.STRING)
      .flatMapSortedGroups(col("__ttl_t"), tieBreak) { (_, it) =>
        var lastKept = Long.MinValue
        it.filter { r =>
          val t = r.getLong(tIdx)
          val keep = lastKept == Long.MinValue || t - lastKept >= ttlSeconds
          if (keep) lastKept = t
          keep
        }
      }
      .toDF().drop("__ttl_k", "__ttl_t")
  }

  /** Holt linear (double-exponential) smoothing per key: level and trend
    * state over each key's time-ordered values —
    * {{{
    *   l_1 = y_1,  b_1 = 0
    *   l_t = α·y_t + (1−α)·(l_{t−1} + b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    * }}}
    * the one-step-ahead forecasting primitive ([[ewma]]'s sibling with a
    * trend term). Genuinely sequential — l_t depends on the full prefix
    * through a non-associative recurrence, so no window/self-join
    * formulation exists; the scale shape is the [[dedupWithinTtl]] one:
    * ONE keyed shuffle, Spark's secondary sort streams each group ordered
    * by (time, tieBreak) through an O(1)-state iterator (two doubles per
    * key in flight — no per-group materialization, spill-safe).
    * Appends `level` and `trend` columns; `value` must be non-null
    * (filter first); `tieBreak` completes the total order.
    */
  def holtSmooth(df: DataFrame, key: Column, time: Column, value: Column,
      tieBreak: Column, alpha: Double, beta: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1]: $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0, 1]: $beta")
    val prep = df.withColumn("__h_k", key.cast(StringType))
      .withColumn("__h_t", time.cast(LongType))
      .withColumn("__h_y", value.cast(DoubleType))
    val outSchema = org.apache.spark.sql.types.StructType(
      prep.schema.fields :+
        StructField("level", DoubleType, nullable = false) :+
        StructField("trend", DoubleType, nullable = false))
    implicit val rowEnc: org.apache.spark.sql.Encoder[
      org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    import org.apache.spark.sql.Encoders
    val kIdx = prep.schema.fieldIndex("__h_k")
    val yIdx = prep.schema.fieldIndex("__h_y")
    val ia = 1 - alpha
    val ib = 1 - beta
    prep.groupByKey(_.getString(kIdx))(Encoders.STRING)
      .flatMapSortedGroups(col("__h_t"), tieBreak) { (_, it) =>
        var l = 0.0
        var b = 0.0
        var first = true
        it.map { r =>
          val y = r.getDouble(yIdx)
          if (first) { l = y; b = 0.0; first = false }
          else {
            val lPrev = l
            l = alpha * y + ia * (l + b)
            b = beta * (l - lPrev) + ib * b
          }
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ l :+ b)
        }
      }
      .toDF().drop("__h_k", "__h_t", "__h_y")
  }

  /** Capped sessionization: label each row with a per-key session id
    * that breaks on EITHER rule web analytics actually uses — an idle
    * gap > `gapSeconds` since the previous event, OR total session span
    * > `maxSeconds` since the session's FIRST event (the GA-style 4-hour
    * cap that keeps a lunch-break tab from becoming one endless
    * session). The cap makes this genuinely sequential — whether a row
    * starts a new session depends on where earlier rows placed the
    * session start, so no window/gaps-and-islands formulation exists
    * (q99's gap-only dual IS a window). Same scale shape as
    * [[dedupWithinTtl]]: one keyed shuffle, secondary-sorted streaming
    * iterator, O(1) state per key, no per-group materialization.
    * Session ids are 1-based in (time, tieBreak) order.
    */
  def sessionizeCapped(df: DataFrame, key: Column, time: Column,
      tieBreak: Column, gapSeconds: Long, maxSeconds: Long): DataFrame = {
    require(gapSeconds > 0, s"gapSeconds must be > 0: $gapSeconds")
    require(maxSeconds >= gapSeconds,
      s"maxSeconds ($maxSeconds) must be >= gapSeconds ($gapSeconds) — " +
        "a cap below the idle gap would break before the gap rule can")
    val prep = df.withColumn("__s_k", key.cast(StringType))
      .withColumn("__s_t", time.cast(LongType))
    val outSchema = org.apache.spark.sql.types.StructType(
      prep.schema.fields :+
        StructField("session_id", org.apache.spark.sql.types.LongType,
          nullable = false))
    implicit val rowEnc: org.apache.spark.sql.Encoder[
      org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    import org.apache.spark.sql.Encoders
    val kIdx = prep.schema.fieldIndex("__s_k")
    val tIdx = prep.schema.fieldIndex("__s_t")
    prep.groupByKey(_.getString(kIdx))(Encoders.STRING)
      .flatMapSortedGroups(col("__s_t"), tieBreak) { (_, it) =>
        var sid = 0L
        var sessionStart = 0L
        var lastT = 0L
        it.map { r =>
          val t = r.getLong(tIdx)
          if (sid == 0L || t - lastT > gapSeconds ||
              t - sessionStart > maxSeconds) {
            sid += 1L
            sessionStart = t
          }
          lastT = t
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ sid)
        }
      }
      .toDF().drop("__s_k", "__s_t")
  }

  /** Interval-overlap JOIN: pairs of closed intervals (same key, one from
    * each side) that overlap in time — the interval-interval sibling of
    * [[rangeJoin]]'s point-in-interval. Candidates come from an equi-join
    * on (key, coarse time bucket): each interval explodes to the buckets
    * it touches (fan-out = length/bucketSeconds, so pick the bucket near
    * the typical interval length; a multi-bucket pair matches in several
    * buckets and dedups via DISTINCT before scoring). Never all-pairs,
    * never a nested-loop theta join — at 100 TB the bucket count is the
    * knob that trades replication for candidate precision. Emits
    * (key, left_id, right_id, overlap_s ≥ 0, closed-bounds).
    */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
      key: String, id: String, start: String, end: String,
      bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, s"bucketSeconds must be > 0: $bucketSeconds")
    def sides(df: DataFrame, idAs: String, sAs: String, eAs: String) =
      df.select(col(key), col(id).as(idAs),
        col(start).as(sAs), col(end).as(eAs),
        explode(sequence(
          floor(col(start) / bucketSeconds).cast(LongType),
          floor(col(end) / bucketSeconds).cast(LongType))).as("__b"))
    sides(left, "left_id", "__ls", "__le")
      .join(sides(right, "right_id", "__rs", "__re"), Seq(key, "__b"))
      .where(col("__ls") <= col("__re") && col("__rs") <= col("__le"))
      .select(col(key), col("left_id"), col("right_id"),
        col("__ls"), col("__le"), col("__rs"), col("__re"))
      .distinct() // an overlap spanning k buckets matched k times
      .select(col(key), col("left_id"), col("right_id"),
        (least(col("__le"), col("__re")) -
          greatest(col("__ls"), col("__rs"))).as("overlap_s"))
  }

  /** Transitive ancestor closure of a parent-pointer hierarchy (org
    * charts, category trees, BOMs) to `maxDepth` levels — the recursive-
    * CTE workload Spark SQL has no syntax for, expressed as an iterated
    * equi-join: frontier(depth d) ⋈ edges → depth d+1, all levels
    * unioned. The DECLARED depth makes the whole closure one lazy
    * declarative plan — maxDepth is known, so the unroll needs no
    * per-round action or checkpoint, Catalyst optimizes across all
    * levels, and the closure materializes as ONE job (measured: the
    * checkpointed-loop formulation runs 2–3× slower at sf0.1 on its
    * per-level materialization + isEmpty jobs; plan size grows only
    * O(maxDepth²) nodes, fine for the ≤16-level hierarchies a declared
    * depth implies — discovery of UNKNOWN depth is
    * [[ancestorClosureDyn]], which needs and gets the checkpointed
    * [[iterateUntilFixpoint]] loop). A level that empties stays empty
    * through every deeper join, so the union is still exact when the
    * hierarchy is shallower than maxDepth. Emits (node, anc, depth ≥ 1).
    */
  def ancestorClosure(edges: DataFrame, child: Column, parent: Column,
      maxDepth: Int): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1: $maxDepth")
    // cache: the edge projection feeds every one of the maxDepth joins
    val e = edges.select(child.as("__c"), parent.as("__p")).cache()
    Iterator.iterate(closureLevel1(e))(closureStep(e, _))
      .take(maxDepth).reduce(_ unionAll _)
  }

  /** One closure level up: frontier(depth d) ⋈ edges → depth d+1. Shared
    * by the unrolled [[ancestorClosure]] and [[closureLoop]] so the join
    * semantics can never drift between the static and dynamic paths.
    */
  private def closureStep(e: DataFrame, frontier: DataFrame): DataFrame =
    frontier.join(e, col("anc") === col("__c"))
      .select(col("node"), col("__p").as("anc"),
        (col("depth") + 1).as("depth"))

  private def closureLevel1(e: DataFrame): DataFrame =
    e.select(col("__c").as("node"), col("__p").as("anc"),
      lit(1).as("depth"))

  /** Dynamic-depth [[ancestorClosure]]: the recursion depth is DISCOVERED
    * (iterate until the frontier is empty), not declared — the exact dual
    * of an unbounded recursive CTE. `depthCap` is cycle insurance, not a
    * semantic bound: a parent-pointer cycle would otherwise iterate (and
    * grow) forever, so hitting the cap throws instead of silently
    * truncating the closure.
    */
  def ancestorClosureDyn(edges: DataFrame, child: Column, parent: Column,
      depthCap: Int = 64): DataFrame = {
    require(depthCap >= 1, s"depthCap must be >= 1: $depthCap")
    val fp = closureLoop(edges, child, parent, depthCap)
    require(fp.converged, s"ancestorClosureDyn: frontier still non-empty " +
      s"at depth cap $depthCap — cycle, or raise depthCap")
    fp.state
  }

  /** The DYNAMIC-depth loop behind [[ancestorClosureDyn]] (the static
    * [[ancestorClosure]] unrolls [[closureStep]] lazily instead — no
    * per-round actions): the iterated state is ONLY the current frontier
    * (depth == rounds+1); each completed level is collected once
    * (already checkpointed by the combinator) and the result is one flat
    * union of levels. Halt = the next frontier came back empty;
    * `converged` = that happened before the cap.
    */
  private def closureLoop(edges: DataFrame, child: Column, parent: Column,
      maxDepth: Int): Fixpoint = {
    val e = edges.select(child.as("__c"), parent.as("__p")).cache()
    val l1 = closureLevel1(e).localCheckpoint(true)
    if (maxDepth == 1) return Fixpoint(l1, 1, l1.isEmpty)
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](l1)
    val fp = iterateUntilFixpoint(l1, maxDepth - 1) {
      (frontier, _) => closureStep(e, frontier)
    } { (next, _) =>
      val empty = next.isEmpty
      if (!empty) levels += next
      empty
    }
    Fixpoint(levels.reduce(_ unionAll _), fp.rounds, fp.converged)
  }

  /** 2-D Pareto frontier (skyline): rows not dominated on two maximize
    * dimensions (q dominates p iff ≥ on both and > on one). The naive
    * formulation is an O(n²) NOT EXISTS self-join; the scale shape is a
    * single ordered scan — sort by x desc (y desc tiebreak), and a row is
    * on the frontier iff its y beats the EXCLUSIVE prefix max (an equal
    * prefix y implies an equal-y predecessor with strictly larger x ⇒
    * dominated, so strict > is exactly the dominance test on DISTINCT
    * pairs). The scan runs as [[prefixMaxExclusive]]'s two-level chunked
    * window — never a whole-data single task — over the distinct (x,y)
    * pairs (usually ≪ rows), then an equi-join back keeps every row tied
    * on a frontier pair. Caller contract: x,y integers ≥ 0 with
    * x·yBound + y < 2⁶³ and y < yBound (one encoded sort key).
    */
  def skyline2D(df: DataFrame, x: Column, y: Column,
      yBound: Long): DataFrame = {
    require(yBound > 0, s"yBound must be > 0: $yBound")
    val pairs = df.select(x.as("__x"), y.as("__y")).distinct()
      // ascending __ord == (x desc, y desc); negatives floor-chunk fine
      .withColumn("__ord", -(col("__x") * yBound + col("__y")))
    val keep = prefixMaxExclusive(pairs, col("__ord"), col("__y"),
        "__pm", chunkSize = 1L << 20)
      .where(col("__y") > coalesce(col("__pm"), lit(Long.MinValue)))
      .select(col("__x"), col("__y"))
    df.join(keep, x === col("__x") && y === col("__y"))
      .drop("__x", "__y")
  }

  /** Per-key top-k through the engine's own physical operator
    * ([[graft.plans.TopKPerKeyExec]]): the k FIRST rows per key under
    * `order` (name, ascending?) — row_number ≤ k semantics, so give the
    * order a total tiebreak. Unlike [[topKPerGroup]]'s window
    * formulation, the custom operator never sorts: one keyed exchange,
    * then an O(n log k) bounded heap per key — no sort buffer, no spill
    * pressure when k ≪ group size. Registered by `GraftExtensions`
    * (injectPlannerStrategy); this entry point also self-installs via
    * `experimental.extraStrategies` for plain sessions. Output row order
    * within a key is unspecified (sort after if you need one).
    */
  def topKPerKeyFast(df: DataFrame, keys: Seq[String],
      order: Seq[(String, Boolean)], k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending,
      SortOrder}
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies
        .contains(graft.plans.TopKPerKeyStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKPerKeyStrategy
    }
    val node = graft.plans.TopKPerKey(k,
      keys.map(UnresolvedAttribute.quoted),
      order.map { case (n, asc) =>
        SortOrder(UnresolvedAttribute.quoted(n),
          if (asc) Ascending else Descending)
      },
      df.queryExecution.logical)
    org.apache.spark.sql.graftglue.Glue.ofRows(spark, node)
  }

  /** Largest-remainder (Hamilton) integer allocation: split a per-key
    * integer `total` across the key's lines proportionally to integer
    * `weight`, with the rounding remainder distributed one unit at a time
    * to the lines with the largest fractional share (line order as the
    * tiebreak). The per-key output sums to `total` EXACTLY — the invariant
    * float proration can't give — which is what billing/attribution
    * pipelines actually need.
    *
    * Input: one row per line, `total` repeated on each line of its key.
    * Output: (k, ln, alloc) — key, line, allocated units.
    *
    * Preconditions: weights nonnegative with a positive per-key sum
    * (a zero-sum key would divide by zero → null allocations).
    *
    * Scale posture: all integer arithmetic (`t*w` fits long up to
    * ~3e9·3e9); two window passes over ONE keyed exchange (sum + ranked
    * remainder share the partition key) — no joins, no driver state.
    */
  def allocateLargestRemainder(df: DataFrame, key: Column, line: Column,
      weight: Column, total: Column): DataFrame = {
    val base = df.select(key.as("k"), line.as("ln"), weight.as("w"),
      total.as("t"))
    val wk = Window.partitionBy(col("k"))
    val b = base
      .withColumn("sw", sum(col("w")).over(wk))
      .withColumn("base", expr("(t * w) div sw"))
      .withColumn("rem", expr("(t * w) % sw"))
    b.withColumn("rk",
        row_number().over(wk.orderBy(col("rem").desc, col("ln"))))
      .withColumn("leftover", col("t") - sum(col("base")).over(wk))
      .select(col("k"), col("ln"),
        (col("base") +
          when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc"))
  }

  /** Spatial neighbor pairs by uniform grid: all unordered pairs of points
    * within `radius` (integer units, Euclidean), found via a cell
    * equi-join instead of an all-pairs cross join. Each point lands in one
    * `radius`-sized cell; candidates are the 3x3 neighborhood, so a pair
    * within `radius` can never straddle further than adjacent cells —
    * exact, no recall loss. Output: (id_a, id_b, d2) with id_a < id_b and
    * d2 the exact squared distance.
    *
    * Coordinates must be NONNEGATIVE integers (offset your frame first):
    * integer `div` truncates toward zero, which is only floor — the cell
    * contract — for nonnegative operands.
    *
    * Scale posture: the 9x candidate explosion feeds a hash equi-join on
    * (cell_x, cell_y); per-cell fanout is bounded by local point density,
    * never by n. The classic fixed-radius-near-neighbors shape that
    * survives a 1000-executor shuffle; pair math is exact long codegen.
    */
  def gridNeighborPairs(df: DataFrame, id: Column, x: Column, y: Column,
      radius: Long): DataFrame = {
    require(radius >= 1, s"radius must be >= 1: $radius")
    val pts = df.select(id.as("gid"), x.as("gx"), y.as("gy"))
      .withColumn("cx", expr(s"gx div ${radius}L"))
      .withColumn("cy", expr(s"gy div ${radius}L"))
    val offs = for { dx <- Seq(-1, 0, 1); dy <- Seq(-1, 0, 1) }
      yield struct(lit(dx).as("dx"), lit(dy).as("dy"))
    val a = pts
      .withColumn("off", explode(array(offs: _*)))
      .select(col("gid").as("id_a"), col("gx").as("xa"),
        col("gy").as("ya"),
        (col("cx") + col("off.dx")).as("ncx"),
        (col("cy") + col("off.dy")).as("ncy"))
    val bSide = pts.select(col("gid").as("id_b"), col("gx").as("xb"),
      col("gy").as("yb"), col("cx"), col("cy"))
    a.join(bSide,
        col("ncx") === col("cx") && col("ncy") === col("cy") &&
          col("id_a") < col("id_b"))
      .withColumn("d2",
        (col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb")))
      .filter(col("d2") <= radius * radius)
      .select(col("id_a"), col("id_b"), col("d2"))
  }

  /** Sparse cosine-similarity document pairs over raw term frequencies,
    * restricted to mid-frequency terms (`minDf <= df <= maxDf`). The df
    * band is the vector space definition AND the scale lever: ubiquitous
    * terms (df > maxDf) would pair every document with every other, and
    * hapax terms (df < minDf) can't create a pair at all. All-integer
    * dot products and norms make the score bit-deterministic across
    * engines (sqrt/div are IEEE-exact; no transcendentals).
    *
    * Output: (doc_a, doc_b, dot, cos) for pairs with cos >= minCos,
    * doc_a < doc_b.
    *
    * Scale posture: candidates come from a term equi-join whose per-term
    * fanout is capped at maxDf^2 — never all-pairs; the kept posting table
    * is cached because it feeds both sides of the self-join and the norm
    * aggregate (Catalyst won't reuse a symmetric self-join exchange).
    */
  def cosineSimPairsSparse(df: DataFrame, id: Column, text: Column,
      minDf: Long, maxDf: Long, minCos: Double): DataFrame = {
    require(minDf >= 1 && maxDf >= minDf, s"bad df band [$minDf,$maxDf]")
    val perDoc = df
      .select(id.as("doc"), explode(split(lower(text), " ")).as("term"))
      .groupBy(col("term"), col("doc")).agg(count(lit(1)).as("tf"))
    val dfreq = perDoc.groupBy(col("term"))
      .agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") >= minDf && col("dfreq") <= maxDf)
      .select(col("term"))
    val kept = perDoc.join(dfreq, Seq("term")).cache()
    val norms = kept.groupBy(col("doc"))
      .agg(sum(col("tf") * col("tf")).as("n2"))
    val dot = kept.as("a")
      .join(kept.as("b"),
        col("a.term") === col("b.term") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
    dot
      .join(norms.select(col("doc").as("doc_a"), col("n2").as("n2a")),
        Seq("doc_a"))
      .join(norms.select(col("doc").as("doc_b"), col("n2").as("n2b")),
        Seq("doc_b"))
      .withColumn("cos",
        col("dot").cast(DoubleType) /
          (sqrt(col("n2a").cast(DoubleType)) *
            sqrt(col("n2b").cast(DoubleType))))
      .filter(col("cos") >= minCos)
      .select(col("doc_a"), col("doc_b"), col("dot"), col("cos"))
  }
}
