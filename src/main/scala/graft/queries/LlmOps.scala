package graft.queries

import graft.api.Graft
import graft.{Exact, Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StringType}

/** LLM-data-pipeline operators: exact/near dedup, similarity top-k, text
  * analysis, multimodal struct columns (SURVEY.md §2B Q30–Q34).
  *
  * Scale notes (100 TB posture):
  *  - Dedup keeps a deterministic survivor via `row_number()=1` (SURVEY
  *    §4.2) — `dropDuplicates` is nondeterministic about which row wins.
  *  - Near-dup is NEVER all-pairs: candidates come from an equi-join on a
  *    fixed-width signature (md5 of the sorted token set, or an LSH band
  *    hash), so the shuffle partitions by signature and only same-bucket
  *    rows meet. Hot buckets (boilerplate docs) are the skew risk; AQE skew
  *    join handles moderate skew, and a salted two-stage join is the
  *    escape hatch beyond that.
  *  - MinHash signatures are computed with higher-order functions entirely
  *    inside the row (no explode/shuffle for signature building).
  *  - Similarity top-k broadcasts the single query vector and reduces via
  *    TakeOrderedAndProject — no global sort, no driver collect.
  */
object LlmOps {

  /** Cosine similarity via the native codegen'd Catalyst expression
    * ([[graft.functions.CosineSimilarity]]) — double accumulation in
    * element order, bit-identical to the oracle's DOUBLE[] math and to the
    * HOF formulation it replaced (which ran ~3x slower on pairwise joins).
    */
  private def cosineD(s: SparkSession, a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosineSim(s, a, b)

  val qs: Seq[Q] = Seq(
    // Q30 — exact dedup, keep-first-by-key: deterministic survivor = lowest
    // doc_id per (lang, source). One hash-partition shuffle on the key.
    Q("q30_dedup_exact",
      (s, d) => {
        Graft.dedupExact(Tables(s, d, "documents"),
            keys = Seq(col("lang"), col("source")),
            order = Seq(col("doc_id")))
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .orderBy(col("lang"), col("source"))
      },
      Some("""SELECT doc_id, lang, source, n_chars FROM (
             |  SELECT doc_id, lang, source, n_chars,
             |    row_number() OVER (PARTITION BY lang, source
             |                       ORDER BY doc_id) AS rn
             |  FROM documents) WHERE rn = 1
             |ORDER BY lang, source""".stripMargin)),

    // Q30b — DISTINCT surface over full rows of a projection.
    Q("q30_dedup_distinct",
      (s, d) => {
        Tables(s, d, "documents")
          .select(col("lang"), col("source"))
          .distinct()
          .orderBy(col("lang"), col("source"))
      },
      Some("""SELECT DISTINCT lang, source FROM documents
             |ORDER BY lang, source""".stripMargin)),

    // Q31 — near-dup candidate pairs, declared oracle-safe variant:
    // signature = md5 of the sorted distinct token set; equality self-join
    // on the 32-char signature (equi-key, bucketed — never all-pairs).
    Q("q31_neardup",
      (s, d) => {
        Graft.exactDupPairs(Tables(s, d, "documents"),
            id = col("doc_id"), text = col("text"))
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""WITH sigs AS (
             |  SELECT doc_id,
             |    md5(array_to_string(list_sort(list_distinct(
             |      string_split(text, ' '))), ' ')) AS sig
             |  FROM documents)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             |FROM sigs a JOIN sigs b
             |  ON a.sig = b.sig AND a.doc_id < b.doc_id
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // Q31c — dup-pair → CLUSTER resolution through the distributed
    // connected-components operator (Graft.dupClusters: min-label
    // propagation + pointer jumping). Oracle: exact-dup pairs are cliques
    // per content signature, so each component IS a signature group and
    // its label is the group's min doc_id — a deterministic relational
    // encoding DuckDB computes with a window function. The iterative CC
    // path must converge to exactly that closed form.
    Q("q31_dup_clusters",
      (s, d) => {
        val pairs = Graft.exactDupPairs(Tables(s, d, "documents"),
          id = col("doc_id"), text = col("text"))
        Graft.dupClusters(pairs)
          .select(col("id"), col("cluster"))
          .orderBy(col("id"))
      },
      Some("""WITH sigs AS (
             |  SELECT doc_id,
             |    md5(array_to_string(list_sort(list_distinct(
             |      string_split(text, ' '))), ' ')) AS sig
             |  FROM documents),
             |dup AS (SELECT sig FROM sigs GROUP BY sig HAVING count(*) > 1)
             |SELECT s.doc_id AS id,
             |  min(s.doc_id) OVER (PARTITION BY s.sig) AS cluster
             |FROM sigs s JOIN dup USING (sig)
             |ORDER BY id""".stripMargin)),

    // Q31d — edit-distance near-dup on SHORT strings (part names):
    // exact levenshtein <= 1 pairs over the DISTINCT name vocabulary —
    // the canonical entity-resolution shape (exact-dedup values first,
    // fuzzy-match the distinct vocabulary, map back by equi-join). Pairing
    // raw rows instead would re-compare every duplicate occurrence:
    // measured 223 s at sf0.1 vs sub-second on the 64-name vocabulary.
    Q("q31_edit_neardup",
      (s, d) => {
        val names = Tables(s, d, "part").select(col("p_name")).distinct()
        Graft.nearDupEdit(names, id = col("p_name"), text = col("p_name"),
            maxDist = 1)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH names AS (SELECT DISTINCT p_name FROM part)
             |SELECT a.p_name AS id_a, b.p_name AS id_b,
             |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
             |FROM names a JOIN names b
             |  ON a.p_name < b.p_name
             | AND abs(length(a.p_name) - length(b.p_name)) <= 1
             |WHERE levenshtein(a.p_name, b.p_name) <= 1
             |ORDER BY id_a, id_b""".stripMargin)),

    // Q31-full — banded MinHash-LSH near-dup pipeline (engine-verified:
    // banding recall is probabilistic for 0.9<=J<1, so no exact oracle).
    //
    // Design choices, each measured against a slower first cut:
    //  - Similarity is Jaccard over multi-token SHINGLES, not unigrams: with a
    //    small shared vocabulary every doc pair has high unigram overlap,
    //    so unigram LSH buckets degenerate toward all-pairs (measured 45s
    //    at sf0.1 — a quadratic scale-killer). Shingling pushes
    //    random-pair Jaccard to ~0; band buckets stay small and the join
    //    stays ~linear in corpus size.
    //  - Each shingle is hashed ONCE with codegen'd xxhash64; the 16
    //    minhashes are XOR reshuffles (h XOR c_i — a 64-bit permutation,
    //    and overflow-free under ANSI mode, where h*a+b throws) of that
    //    hash array. The first cut (md5+conv string ops per seed x shingle
    //    inside nested interpreted lambdas) took 27s at sf0.1 for 5k docs.
    //    XOR permutations are not min-wise independent, but banding only
    //    needs collision-on-similarity: exact dups always collide, and
    //    every candidate is confirmed by exact Jaccard below.
    //  - The shingle table is cached: the band buckets and both sides of
    //    the Jaccard verification join read it, and would otherwise
    //    recompute the shingle lineage once per read.
    // 16 minhashes (4 bands x 4 rows); candidates from the band buckets;
    // exact shingle-Jaccard >= 0.9 confirms candidates. Shingles are
    // 5 tokens (k=3 on this dense synthetic vocabulary produced ~670x more
    // false candidates for the identical final pair set).
    Q("q31_minhash_lsh",
      (s, d) => {
        Graft.nearDupLsh(Tables(s, d, "documents"),
            id = col("doc_id"), text = col("text"),
            k = 5, numHashes = 16, bands = 4, threshold = 0.9)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
            col("jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      None),

    // Q32 — brute-force cosine top-k vs the vec_id=0 query vector.
    // Broadcast the 1-row query side; per-row dot/norms in codegen'd
    // higher-order fns accumulating in double (matches the oracle's
    // DOUBLE[] math); top-k compiles to TakeOrderedAndProject.
    Q("q32_cosine_topk",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        val qv = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qvec"))
        Graft.cosineTopK(e, id = col("vec_id"), vec = col("embedding"),
            queryVec = qv, k = 10)
          .select(col("vec_id"), col("label"), col("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
      },
      Some("""WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q
             |            FROM embeddings WHERE vec_id = 0)
             |SELECT vec_id, label,
             |  list_cosine_similarity(CAST(embedding AS DOUBLE[]), q)
             |    AS cos_sim
             |FROM embeddings, qv
             |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin)),

    // Q30c — SimHash dedup: 32-bit simhash over the distinct token set
    // (order-independent), duplicate pairs via signature-equality join —
    // the same never-all-pairs bucket shape as q31. The per-bit vote sums
    // run as 32 fold expressions over the row-local token-hash array (one
    // md5 per token total, no shuffle until the final pair join). Hash
    // values are oracle-portable (md5 prefix), so DuckDB reproduces the
    // exact signatures.
    Q("q30_simhash",
      (s, d) => {
        Graft.simhashPairs(Tables(s, d, "documents"),
            id = col("doc_id"), text = col("text"), bits = 32)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
            col("simhash"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some {
        val hv = "CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)"
        val votes = (0 until 32).map(b =>
          s"SUM(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
          .mkString(",\n    ")
        val assemble = (0 until 32).map(b =>
          s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
           |  FROM documents),
           |h AS (SELECT doc_id, $hv AS hv FROM toks),
           |bits AS (
           |  SELECT doc_id,
           |    $votes
           |  FROM h GROUP BY doc_id),
           |sig AS (SELECT doc_id, $assemble AS simhash FROM bits)
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS simhash
           |FROM sig a JOIN sig b
           |  ON a.simhash = b.simhash AND a.doc_id < b.doc_id
           |ORDER BY doc_a, doc_b""".stripMargin
      }),

    // Q31f — SimHash Hamming-distance near-dup (Graft.simhashHammingPairs):
    // the fuzzy tier above q30_simhash's signature equality. Banding gives
    // exact recall by pigeonhole (dist <= 3 over 4 bands forces one equal
    // band), so candidates are a (band, value) equi-join — never all-pairs
    // — and the confirm is a codegen'd bit_count(xor). Both engines build
    // the identical signatures (md5-portable hashes, shared vote rule), so
    // even this fuzzy surface is oracle-exact.
    Q("q31_simhash_hamming",
      (s, d) => {
        Graft.simhashHammingPairs(Tables(s, d, "documents"),
            id = col("doc_id"), text = col("text"),
            bits = 32, maxDist = 3, bands = 4)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
            col("hamming"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some {
        val hv = "CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)"
        val votes = (0 until 32).map(b =>
          s"SUM(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
          .mkString(",\n    ")
        val assemble = (0 until 32).map(b =>
          s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
           |  FROM documents),
           |h AS (SELECT doc_id, $hv AS hv FROM toks),
           |bits AS (
           |  SELECT doc_id,
           |    $votes
           |  FROM h GROUP BY doc_id),
           |sig AS (SELECT doc_id, $assemble AS simhash FROM bits),
           |bandrows AS (
           |  SELECT doc_id, simhash, b, (simhash >> (8*b)) & 255 AS bv
           |  FROM sig CROSS JOIN (SELECT unnest([0,1,2,3]) AS b) bands),
           |cands AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    a.simhash AS sa, b.simhash AS sb
           |  FROM bandrows a JOIN bandrows b
           |    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
           |FROM cands WHERE bit_count(xor(sa, sb)) <= 3
           |ORDER BY doc_a, doc_b""".stripMargin
      }),

    // Q31b — n-gram (5-token shingle, Broder-style) Jaccard near-dup via PREFIX
    // FILTERING (PPJoin-style): for Jaccard >= 0.5 over globally-sorted
    // shingle sets, any qualifying pair must share a shingle within each
    // side's first floor(|S|/2)+1 shingles — so candidates come from an
    // equi-join on exploded prefix shingles, never from block-local
    // all-pairs (a first cut joining whole (lang,size) blocks measured 70s
    // at sf0.1 and grows quadratically with block size; this is exact AND
    // ~linear: shuffle partitions by shingle). The technique is
    // deterministic, so the DuckDB oracle reproduces it bit-for-bit.
    // Set algebra runs over HASHED shingles (portable md5-based 32-bit
    // values, sorted long arrays): intersect/union on longs is several
    // times cheaper than on ~20-char strings at 1M+ candidate pairs. Both
    // engines hash identically, so a (cosmically rare) collision perturbs
    // both sides the same way — parity holds.
    Q("q31_ngram_jaccard",
      (s, d) => {
        Graft.nearDupJaccard(Tables(s, d, "documents"),
            id = col("doc_id"), text = col("text"), k = 5, threshold = 0.5)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
            col("jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""WITH sh AS (
             |  SELECT doc_id,
             |    list_sort(list_distinct(
             |      [CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT)
             |       FOR sh IN [array_to_string(ts[i:i+4], ' ')
             |                  FOR i IN range(1, greatest(len(ts) - 4, 1) + 1)]]))
             |      AS shs
             |  FROM (SELECT doc_id, string_split(text, ' ') AS ts
             |        FROM documents)),
             |pref AS (
             |  SELECT doc_id, unnest(shs[1 : len(shs) // 2 + 1]) AS ps
             |  FROM sh),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM pref a JOIN pref b
             |    ON a.ps = b.ps AND a.doc_id < b.doc_id)
             |SELECT doc_a, doc_b, jaccard FROM (
             |  SELECT doc_a, doc_b,
             |    len(list_intersect(sa.shs, sb.shs))::DOUBLE /
             |      len(list_distinct(list_concat(sa.shs, sb.shs))) AS jaccard
             |  FROM cand
             |  JOIN sh sa ON doc_a = sa.doc_id
             |  JOIN sh sb ON doc_b = sb.doc_id)
             |WHERE jaccard >= 0.5
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // Q31c — embedding-cosine near-dup with deterministic label blocking
    // (the label plays the IVF-cell role: pairs only form inside a cell).
    Q("q31_embed_neardup",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("label"), col("embedding"))
        e.as("a").join(e.as("b"),
            col("a.label") === col("b.label") &&
              col("a.vec_id") < col("b.vec_id"))
          .withColumn("cos_sim",
            cosineD(s, col("a.embedding"), col("b.embedding")))
          .filter(col("cos_sim") >= 0.4)
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
            col("a.label").as("label"), col("cos_sim"))
          .orderBy(col("vec_a"), col("vec_b"))
      },
      Some("""WITH e AS (SELECT vec_id, label,
             |            CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
             |SELECT vec_a, vec_b, label, cos_sim FROM (
             |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             |    a.label AS label,
             |    list_cosine_similarity(a.v, b.v) AS cos_sim
             |  FROM e a JOIN e b
             |    ON a.label = b.label AND a.vec_id < b.vec_id)
             |WHERE cos_sim >= 0.4
             |ORDER BY vec_a, vec_b""".stripMargin)),

    // Q32b — IVF-style ANN: coarse-quantize every vector to its nearest of
    // 8 centroid vectors (deterministic centroids: vec_id < 8; argmax with
    // full tiebreak), then search ONLY the query's cell. At 100 TB the
    // cell id is a partition/bucket key, centroids are broadcast, and the
    // probe reads one cell via partition pruning instead of the corpus —
    // this query IS the scale path demonstrated at fixture size.
    Q("q32_ann_ivf",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
        // cached: the query row and the probe side would otherwise each
        // recompute the full assignment (cross join + window)
        val cells = Graft.annAssignCells(e, id = col("vec_id"),
            vec = col("embedding"), centroids = cents)
          .select(col("vec_id"), col("label"), col("embedding"), col("cell"))
          .cache()
        val qrow = cells.filter(col("vec_id") === 0)
          .select(col("embedding").as("qemb"), col("cell").as("qcell"))
        cells.join(broadcast(qrow), col("cell") === col("qcell"))
          .withColumn("cos_sim", cosineD(s, col("embedding"), col("qemb")))
          .select(col("vec_id"), col("label"), col("cell"), col("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(5)
      },
      Some("""WITH e AS (SELECT vec_id, label,
             |            CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
             |cells AS (
             |  SELECT vec_id, label, v, cid AS cell FROM (
             |    SELECT e.vec_id, e.label, e.v, c.cid,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid)
             |        AS rn
             |    FROM e CROSS JOIN cents c)
             |  WHERE rn = 1),
             |q AS (SELECT v AS qv, cell AS qcell FROM cells WHERE vec_id = 0)
             |SELECT vec_id, label, cell,
             |  list_cosine_similarity(v, qv) AS cos_sim
             |FROM cells, q WHERE cell = qcell
             |ORDER BY cos_sim DESC, vec_id LIMIT 5""".stripMargin)),

    // Q32d — SRP-LSH bucketed ANN (Graft.annSrpCodes): the LSH dual of the
    // IVF cell path. 8 hyperplanes (fixture rows 1–8, like IVF reuses rows
    // as centroids — keeps the surface oracle-pairable with zero seeded
    // randomness) → 256 angular-sector buckets; candidates = the query's
    // bucket only, confirmed by exact cosine. Never all-pairs: the
    // candidate join is bucket-equality, and at scale `bucket` is the
    // partition key so a probe reads one bucket's files.
    Q("q32_ann_lsh",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        val planes = e.filter(col("vec_id").between(1, 8))
          .select(col("vec_id").as("pid"), col("embedding").as("pvec"))
        // cached: the query row and the probe side share the coded corpus
        val coded = Graft.annSrpCodes(e, id = col("vec_id"),
            vec = col("embedding"), planes = planes)
          .select(col("vec_id"), col("label"), col("embedding"), col("bucket"))
          .cache()
        val qrow = coded.filter(col("vec_id") === 0)
          .select(col("embedding").as("qemb"), col("bucket").as("qbucket"))
        coded.join(broadcast(qrow), col("bucket") === col("qbucket"))
          .withColumn("cos_sim", cosineD(s, col("embedding"), col("qemb")))
          .select(col("vec_id"), col("label"), col("bucket"), col("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(5)
      },
      Some("""WITH e AS (SELECT vec_id, label,
             |            CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |p AS (SELECT vec_id AS pid, v AS pv FROM e
             |      WHERE vec_id BETWEEN 1 AND 8),
             |coded AS (
             |  SELECT e.vec_id, e.label, e.v,
             |    CAST(sum(CASE WHEN list_cosine_similarity(e.v, p.pv) > 0
             |             THEN CAST(power(2, p.pid) AS BIGINT)
             |             ELSE 0 END) AS BIGINT) AS bucket
             |  FROM e CROSS JOIN p
             |  GROUP BY e.vec_id, e.label, e.v),
             |q AS (SELECT v AS qv, bucket AS qb FROM coded WHERE vec_id = 0)
             |SELECT vec_id, label, bucket,
             |  list_cosine_similarity(v, qv) AS cos_sim
             |FROM coded, q WHERE bucket = qb
             |ORDER BY cos_sim DESC, vec_id LIMIT 5""".stripMargin)),

    // Q32c — int8 scalar quantization (Graft.quantizeScalar): the 4x
    // storage cut for an embedding corpus. floor-based code assignment is
    // plain IEEE double math (round() would diverge cross-engine), so even
    // the reconstruction MSE is oracle-exact. Codes ride as a joined
    // string because the driver's compare cannot hash raw array cells.
    Q("q32_quantize",
      (s, d) => {
        val q = Graft.quantizeScalar(Tables(s, d, "embeddings"),
          id = col("vec_id"), vec = col("embedding"))
        q.select(col("id").as("vec_id"),
            array_join(transform(col("codes"), _.cast(StringType)), ",")
              .as("codes_str"),
            (aggregate(
              zip_with(col("vec_d"), col("dequant"), (a, b) => (a - b) * (a - b)),
              lit(0.0), _ + _) / size(col("vec_d"))).as("mse"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH v AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
             |p AS (
             |  SELECT vec_id, e, list_min(e) AS vmin,
             |    (list_max(e) - list_min(e)) / 255.0 AS scale
             |  FROM v),
             |c AS (
             |  SELECT vec_id, e, vmin, scale,
             |    CASE WHEN scale = 0
             |         THEN [0 FOR x IN e]
             |         ELSE [CAST(least(255, floor((x - vmin) / scale)) AS INT)
             |               FOR x IN e]
             |    END AS codes
             |  FROM p)
             |SELECT vec_id,
             |  array_to_string(codes, ',') AS codes_str,
             |  list_sum([(e[i] - (vmin + (codes[i] + 0.5) * scale)) *
             |            (e[i] - (vmin + (codes[i] + 0.5) * scale))
             |            FOR i IN range(1, len(e) + 1)]) / len(e) AS mse
             |FROM c ORDER BY vec_id""".stripMargin)),

    // Q32e — Lloyd's k-means (Graft.kmeansFit): 2 rounds, k=8, centroids
    // seeded from the 8 smallest vec_ids (deterministic — no RNG). The
    // assignment step embeds the centroids as literals (no join, no
    // window, no shuffle; distance = native codegen'd l2_sq); the update
    // step is one map-side-combinable (cluster, dim) aggregation. The
    // oracle replays both rounds as CTEs: distances land ~1e-13 apart
    // across engines (grouped sum vs sequential fold), far below both the
    // argmin decision margins and 6-dp hashing.
    Q("q32_kmeans",
      (s, d) => {
        Graft.kmeansFit(Tables(s, d, "embeddings"), id = col("vec_id"),
            vec = col("embedding"), k = 8, iters = 2)
          .select(col("__vid").as("vec_id"), col("cluster"), col("dist"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH v AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
             |  FROM embeddings),
             |ve AS (
             |  SELECT vec_id, generate_subscripts(e, 1) AS d, unnest(e) AS x
             |  FROM v),
             |c0 AS (SELECT vec_id AS cid, d, x FROM ve WHERE vec_id < 8),
             |d1 AS (
             |  SELECT ve.vec_id, c0.cid, sum((ve.x - c0.x) * (ve.x - c0.x)) AS dist
             |  FROM ve JOIN c0 USING (d) GROUP BY ve.vec_id, c0.cid),
             |a1 AS (
             |  SELECT vec_id, cid FROM (
             |    SELECT vec_id, cid,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             |    FROM d1) WHERE rn = 1),
             |c1 AS (
             |  SELECT a1.cid, ve.d, avg(ve.x) AS x
             |  FROM a1 JOIN ve USING (vec_id) GROUP BY a1.cid, ve.d),
             |d2 AS (
             |  SELECT ve.vec_id, c1.cid, sum((ve.x - c1.x) * (ve.x - c1.x)) AS dist
             |  FROM ve JOIN c1 USING (d) GROUP BY ve.vec_id, c1.cid),
             |a2 AS (
             |  SELECT vec_id, cid AS cluster, dist FROM (
             |    SELECT vec_id, cid, dist,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             |    FROM d2) WHERE rn = 1)
             |SELECT vec_id, cluster, dist FROM a2 ORDER BY vec_id""".stripMargin)),

    // Q32f — per-label centroid / mean pooling (Graft.labelCentroids),
    // exploded to one row per (label, dim): the class-prototype primitive
    // (seed centroids for IVF/kmeans, per-class profiles). Exploded output
    // on purpose — raw array columns are not hash-comparable across
    // engines (r3's q27_arrays lesson). posexplode is 0-based; the oracle
    // aligns with generate_subscripts - 1.
    Q("q32_centroid",
      (s, d) => {
        Graft.labelCentroids(Tables(s, d, "embeddings"),
            label = col("label"), vec = col("embedding"))
          .orderBy(col("label"), col("dim"))
      },
      Some("""WITH ex AS (
             |  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
             |    CAST(unnest(embedding) AS DOUBLE) AS x
             |  FROM embeddings)
             |SELECT label, dim, count(*) AS n, avg(x) AS mean
             |FROM ex GROUP BY label, dim ORDER BY label, dim""".stripMargin)),

    // Q31g — PageRank over the exact-dup graph (Graft.pageRank): 3 damped
    // power iterations on the signature-equality pairs, undirected — the
    // canonical-document signal when collapsing dup groups (keep the
    // highest-rank hub, not just the smallest id). Iterative Pregel-style
    // join + partial agg per round, lineage checkpoint-truncated like
    // dupClusters. The oracle replays all 3 iterations as CTEs with the
    // identical pinned formula (0.15/n + 0.85*sum(pr/deg)); unordered
    // double sums land far under 6-dp hashing.
    Q("q31_pagerank",
      (s, d) => {
        val pairs = Graft.exactDupPairs(Tables(s, d, "documents"),
          id = col("doc_id"), text = col("text"))
        Graft.pageRank(pairs, iters = 3, damping = 0.85)
          .select(col("id").as("doc_id"), col("pr"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH sigs AS (
             |  SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
             |    string_split(text, ' '))), ' ')) AS sig
             |  FROM documents),
             |pairs AS (
             |  SELECT a.doc_id AS u, b.doc_id AS v
             |  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.doc_id < b.doc_id),
             |edges AS (SELECT u, v FROM pairs
             |          UNION ALL SELECT v AS u, u AS v FROM pairs),
             |nodes AS (SELECT DISTINCT u AS id FROM edges),
             |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
             |deg AS (SELECT u, CAST(count(*) AS DOUBLE) AS d
             |        FROM edges GROUP BY u),
             |p0 AS (SELECT id, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
             |i1 AS (SELECT e.v AS id, 0.15 / any_value(nn.n)
             |         + 0.85 * sum(p.pr / deg.d) AS pr
             |       FROM edges e JOIN p0 p ON e.u = p.id
             |         JOIN deg ON deg.u = e.u CROSS JOIN nn
             |       GROUP BY e.v),
             |i2 AS (SELECT e.v AS id, 0.15 / any_value(nn.n)
             |         + 0.85 * sum(p.pr / deg.d) AS pr
             |       FROM edges e JOIN i1 p ON e.u = p.id
             |         JOIN deg ON deg.u = e.u CROSS JOIN nn
             |       GROUP BY e.v),
             |i3 AS (SELECT e.v AS id, 0.15 / any_value(nn.n)
             |         + 0.85 * sum(p.pr / deg.d) AS pr
             |       FROM edges e JOIN i2 p ON e.u = p.id
             |         JOIN deg ON deg.u = e.u CROSS JOIN nn
             |       GROUP BY e.v)
             |SELECT id AS doc_id, pr FROM i3 ORDER BY doc_id""".stripMargin)),

    // Q32g — batched exact top-k (Graft.cosineTopKBatch): top-3 corpus
    // neighbors for each of 5 query vectors — the serving-batch shape and
    // the exact baseline the ANN variants are scored against. Broadcast
    // query batch + native cosine + one window keyed by q_id. The oracle's
    // list_cosine_similarity over DOUBLE[] is bit-identical to the native
    // expression's sequential fold (proven by q32_cosine_topk).
    Q("q32_topk_batch",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        Graft.cosineTopKBatch(
            e.filter(col("vec_id") >= 5), id = col("vec_id"),
            vec = col("embedding"),
            queries = e.filter(col("vec_id") < 5), qid = col("vec_id"),
            qvec = col("embedding"), k = 3)
          .orderBy(col("q_id"), col("n_id"))
      },
      Some("""WITH q AS (
             |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
             |  FROM embeddings WHERE vec_id < 5),
             |c AS (
             |  SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv
             |  FROM embeddings WHERE vec_id >= 5),
             |sc AS (
             |  SELECT q_id, n_id, list_cosine_similarity(qv, cv) AS cos_sim
             |  FROM q CROSS JOIN c),
             |r AS (
             |  SELECT q_id, n_id, cos_sim, row_number() OVER (
             |    PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rn
             |  FROM sc)
             |SELECT q_id, n_id, cos_sim FROM r WHERE rn <= 3
             |ORDER BY q_id, n_id""".stripMargin)),

    // Q30d — deterministic hash sampling: membership is a pure function of
    // the id (portable md5 hash mod 100), reproducible at any scale or
    // partitioning — unlike df.sample, whose output depends on the RNG and
    // split layout.
    Q("q30_sample",
      (s, d) => {
        Graft.hashSample(Tables(s, d, "documents"), col("doc_id"), 10)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang, n_chars FROM documents
             |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
             |           AS BIGINT) % 100 < 10
             |ORDER BY doc_id""".stripMargin)),

    // Q30e — stratified deterministic sampling: per-language keep-rates
    // flatten a skewed mix into a budget; the keep decision is the same
    // pure function of doc_id as q30_sample, so resampling is stable
    // across runs, partitionings, and engines.
    Q("q30_stratified",
      (s, d) => {
        Graft.hashSampleStratified(Tables(s, d, "documents"),
            id = col("doc_id"), strata = col("lang"),
            rates = Map("en" -> 50, "de" -> 20), defaultPercent = 5)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang, n_chars FROM documents
             |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
             |           AS BIGINT) % 100 <
             |  CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 20 ELSE 5 END
             |ORDER BY doc_id""".stripMargin)),

    // Q30f — the full corpus-cleaning pipeline, composed from the API:
    // quality gate -> exact dedup (keep-first by content signature) ->
    // near-dup removal (drop the higher id of every shingle-Jaccard pair)
    // -> per-language stats. Every stage is the scale-safe shape used by
    // its standalone query; the oracle replays the identical pipeline.
    Q("q30_pipeline",
      (s, d) => {
        val base = Tables(s, d, "documents").filter(col("n_chars") >= 150)
        val ded = Graft.dedupExact(base,
          keys = Seq(md5(array_join(Graft.tokenSet(col("text")), " "))),
          order = Seq(col("doc_id")))
        val pairs = Graft.nearDupJaccard(ded, col("doc_id"), col("text"),
          k = 5, threshold = 0.5)
        val clean = ded.join(pairs.select(col("id_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        clean.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
          .orderBy(col("lang"))
      },
      Some("""WITH base AS (SELECT * FROM documents WHERE n_chars >= 150),
             |ded AS (
             |  SELECT * FROM (
             |    SELECT *, row_number() OVER (
             |      PARTITION BY md5(array_to_string(list_sort(list_distinct(
             |        string_split(text, ' '))), ' '))
             |      ORDER BY doc_id) AS rn
             |    FROM base) WHERE rn = 1),
             |sh AS (
             |  SELECT doc_id,
             |    list_sort(list_distinct(
             |      [CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT)
             |       FOR sh IN [array_to_string(ts[i:i+4], ' ')
             |                  FOR i IN range(1, greatest(len(ts) - 4, 1) + 1)]]))
             |      AS shs
             |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM ded)),
             |pref AS (
             |  SELECT doc_id, unnest(shs[1 : len(shs) // 2 + 1]) AS ps
             |  FROM sh),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM pref a JOIN pref b
             |    ON a.ps = b.ps AND a.doc_id < b.doc_id),
             |pairs AS (
             |  SELECT doc_a, doc_b FROM (
             |    SELECT doc_a, doc_b,
             |      len(list_intersect(sa.shs, sb.shs))::DOUBLE /
             |        len(list_distinct(list_concat(sa.shs, sb.shs))) AS j
             |    FROM cand
             |    JOIN sh sa ON doc_a = sa.doc_id
             |    JOIN sh sb ON doc_b = sb.doc_id)
             |  WHERE j >= 0.5),
             |clean AS (
             |  SELECT * FROM ded
             |  WHERE doc_id NOT IN (SELECT doc_b FROM pairs))
             |SELECT lang, count(*) AS n_docs,
             |  -- DuckDB SUM(BIGINT) promotes to HUGEINT → pandas float64;
             |  -- CAST keeps the oracle dtype int64 to match Spark.
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars
             |FROM clean GROUP BY lang ORDER BY lang""".stripMargin)),

    // Q34c — multimodal decode pipeline, REAL bytes end to end (r13): the
    // pipeline writes a deterministic PNG set with ImageIO (sizes 8+i ×
    // 4+(i%7), i<24, plus two corrupt payloads), ingests it through the
    // binaryFile source, and batch-decodes with the real ImageIO codec in
    // mapPartitions. The oracle is the CLOSED FORM of that construction:
    // 24 decodable PNGs (min width 8, max height 10) whose 16-bin
    // luminance histograms each sum to 1 (24.0 total mass), and 2
    // quarantined corrupt rows (-1 dims, zero mass) — decode dims,
    // histogram normalization, and the quarantine path all check
    // cross-engine against the formula.
    Q("q34_decode",
      (s, d) => {
        import s.implicits._
        val decoded = graft.operators.Multimodal.pipeline(s, d).toDF()
        decoded
          .withColumn("fsum", coalesce(
            aggregate(col("features"), lit(0.0d),
              (acc, x) => acc + x.cast(DoubleType)), lit(0.0d)))
          .groupBy(col("mime"))
          .agg(count(lit(1)).as("n_assets"),
            min(col("width")).as("min_w"), max(col("height")).as("max_h"),
            round(sum(col("fsum")), 3).as("hist_mass"))
          .orderBy(col("mime"))
      },
      Some("""SELECT * FROM (VALUES
             |  ('image/corrupt', CAST(2 AS BIGINT), CAST(-1 AS INTEGER),
             |   CAST(-1 AS INTEGER), CAST(0.0 AS DOUBLE)),
             |  ('image/png', CAST(24 AS BIGINT), CAST(8 AS INTEGER),
             |   CAST(10 AS INTEGER), CAST(24.0 AS DOUBLE)))
             |  AS t(mime, n_assets, min_w, max_h, hist_mass)
             |ORDER BY mime""".stripMargin)),

    // Q34d — multimodal AUDIO decode, REAL bytes end to end (r14): the
    // pipeline writes deterministic half-silent square-wave WAVs with the
    // JDK's own writer (rate/channels/frames/amplitude all closed forms
    // of the index), ingests through binaryFile, and batch-decodes with
    // the real javax.sound codec — RMS, silence ratio, and peak from
    // exact integer sample sums with ONE sqrt per asset, plus two corrupt
    // payloads proving the typed quarantine. The oracle rebuilds every
    // per-file feature row from the construction formulas — a real audio
    // codec checked cross-engine, row by row.
    Q("q223_audio_decode",
      (s, d) => {
        graft.operators.Multimodal.pipelineAudio(s, d).toDF()
          .orderBy(col("doc_id"))
      },
      Some("""WITH f AS (
             |  SELECT i,
             |    8000 + 1000 * (i % 3) AS sample_rate,
             |    1 + (i % 2) AS channels,
             |    800 + 50 * i AS frames,
             |    1000 * (i + 1) AS amp
             |  FROM range(0, 12) t(i)),
             |e AS (
             |  SELECT CAST(i AS BIGINT) AS doc_id, 'audio/wav' AS mime,
             |    CAST(sample_rate AS INTEGER) AS sample_rate,
             |    CAST(channels AS INTEGER) AS channels,
             |    CAST(frames AS BIGINT) AS n_frames,
             |    CAST(sqrt(CAST((frames - frames // 2) * channels * amp
             |        * amp AS DOUBLE) / CAST(frames * channels AS DOUBLE))
             |      / 32768.0 AS REAL) AS rms,
             |    CAST(CAST((frames // 2) * channels AS DOUBLE) /
             |         CAST(frames * channels AS DOUBLE) AS REAL)
             |      AS silence_ratio,
             |    CAST(amp / 32768.0 AS REAL) AS peak
             |  FROM f
             |  UNION ALL SELECT 900, 'audio/corrupt', CAST(-1 AS INTEGER),
             |    CAST(-1 AS INTEGER), CAST(-1 AS BIGINT),
             |    CAST(-1.0 AS REAL), CAST(-1.0 AS REAL), CAST(-1.0 AS REAL)
             |  UNION ALL SELECT 901, 'audio/corrupt', CAST(-1 AS INTEGER),
             |    CAST(-1 AS INTEGER), CAST(-1 AS BIGINT),
             |    CAST(-1.0 AS REAL), CAST(-1.0 AS REAL), CAST(-1.0 AS REAL))
             |SELECT doc_id, mime, sample_rate, channels, n_frames, rms,
             |  silence_ratio, peak
             |FROM e ORDER BY doc_id""".stripMargin)),

    // Q34e — multimodal VIDEO container metadata, REAL bytes (r15): the
    // pipeline synthesizes deterministic ISO-BMFF/MP4 containers
    // (timescale 1000, duration (i+1)s, 1+(i%3) tracks, closed-form
    // dims), ingests through binaryFile, and parses moov/mvhd/tkhd with
    // TWO bounded codegen `aggregate` box-walks — the jpegDims pattern
    // at scan speed, no ffmpeg, no UDF. Two corrupt payloads quarantine
    // as NULL metadata rows. Closes the image/audio/video metadata
    // matrix within zero-egress; the oracle is the construction formula.
    Q("q234_video_meta",
      (s, d) => {
        graft.operators.Multimodal.pipelineVideo(s)
          .select(col("doc_id"),
            col("meta.timescale").as("timescale"),
            col("meta.duration_units").as("duration_units"),
            col("meta.duration_s").as("duration_s"),
            col("meta.track_count").as("track_count"),
            col("meta.width").as("width"),
            col("meta.height").as("height"),
            col("meta.codec").as("codec"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH e AS (
             |  SELECT CAST(i AS BIGINT) AS doc_id,
             |    CAST(1000 AS BIGINT) AS timescale,
             |    CAST(1000 * (i + 1) AS BIGINT) AS duration_units,
             |    CAST(i + 1 AS DOUBLE) AS duration_s,
             |    CAST(1 + (i % 3) AS BIGINT) AS track_count,
             |    CAST(160 + 16 * i AS BIGINT) AS width,
             |    CAST(120 + 8 * i AS BIGINT) AS height,
             |    CASE i % 3 WHEN 0 THEN 'avc1' WHEN 1 THEN 'mp4a'
             |      ELSE 'hvc1' END AS codec
             |  FROM range(0, 12) t(i)
             |  UNION ALL SELECT 900, NULL, NULL, NULL, NULL, NULL, NULL,
             |    NULL
             |  UNION ALL SELECT 901, NULL, NULL, NULL, NULL, NULL, NULL,
             |    NULL
             |  UNION ALL SELECT 902, 1000, 5000, 5.0, 1, 320, 240, NULL)
             |SELECT doc_id, timescale, duration_units, duration_s,
             |  track_count, width, height, codec
             |FROM e ORDER BY doc_id""".stripMargin)),

    // Q244 — kNN label purity (r15): do an embedding's 5 nearest
    // neighbors share its label? THE intrinsic embedding-quality metric
    // (before any downstream eval): purity near 1/|labels| means the
    // export is noise (exactly what these synthetic fixtures show),
    // near 1.0 means the space separates classes. A deterministic probe
    // subset (vec_id % 10) runs brute-force exact kNN — the verification
    // tier; the ANN family (q32_ann_*) is the 100 TB path this metric
    // validates. Purity aggregates as INTEGER match counts with one
    // final division (summing per-probe k/5 doubles would reorder ULPs).
    // Rank determinism: sim ties break by neighbor id; the engine's
    // codegen cosine is bit-identical to DuckDB's list_cosine_similarity
    // (the q32 precedent).
    Q("q244_knn_purity",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        val probes = e.where(col("vec_id") % 10 === 0)
        val top = Graft.cosineTopKBatch(e, id = col("vec_id"),
          vec = col("embedding"),
          queries = probes, qid = col("vec_id"),
          qvec = col("embedding"), k = 6)
          .where(col("n_id") =!= col("q_id")) // self always ranks first
        val top5 = Graft.topKPerGroup(top, Seq(col("q_id")),
          Seq(col("cos_sim").desc, col("n_id")), 5)
        val labels = e.select(col("vec_id"), col("label"))
        top5
          .join(broadcast(labels.toDF("q_id", "q_label")), "q_id")
          .join(broadcast(labels.toDF("n_id", "n_label")), "n_id")
          .groupBy(col("q_label"))
          .agg(countDistinct(col("q_id")).as("n_probes"),
            sum((col("n_label") === col("q_label")).cast(LongType))
              .as("matches"))
          .select(col("q_label").as("label"), col("n_probes"),
            Exact.round6(col("matches").cast(DoubleType) /
              (lit(5.0) * col("n_probes").cast(DoubleType)))
              .as("knn_purity"))
          .orderBy(col("label"))
      },
      Some("""WITH e AS (
             |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |p AS (SELECT * FROM e WHERE vec_id % 10 = 0),
             |sims AS (
             |  SELECT p.vec_id AS q_id, p.label AS q_label,
             |    e.vec_id AS n_id, e.label AS n_label,
             |    list_cosine_similarity(e.v, p.v) AS sim
             |  FROM p JOIN e ON e.vec_id <> p.vec_id),
             |top AS (SELECT *, row_number() OVER (PARTITION BY q_id
             |    ORDER BY sim DESC, n_id) AS rk FROM sims),
             |agg AS (SELECT q_label, count(DISTINCT q_id) AS n_probes,
             |    sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
             |      AS matches
             |  FROM top WHERE rk <= 5 GROUP BY q_label)
             |SELECT q_label AS label, CAST(n_probes AS BIGINT) AS n_probes,
             |  round(CAST(matches AS DOUBLE) / (5.0 * n_probes), 6) + 0.0
             |    AS knn_purity
             |FROM agg ORDER BY label""".stripMargin)),

    // Q245 — label-balance audit (r15): class distribution + imbalance
    // ratios over the embedding export — the two-line check that catches
    // a skewed or truncated label column before it poisons sampling,
    // k-fold splits, or q244's purity read. Exact counts, two divisions
    // per output row against a broadcast 1-row total frame.
    Q("q245_label_balance",
      (s, d) => {
        val c = Tables(s, d, "embeddings")
          .groupBy(col("label")).agg(count(lit(1)).as("n"))
        val t = c.agg(sum(col("n")).cast(LongType).as("tot"),
          max(col("n")).cast(LongType).as("mx"))
        c.crossJoin(broadcast(t))
          .select(col("label"), col("n"),
            Exact.round6(col("n").cast(DoubleType) /
              col("tot").cast(DoubleType)).as("share"),
            Exact.round6(col("n").cast(DoubleType) /
              col("mx").cast(DoubleType)).as("ratio_to_max"))
          .orderBy(col("label"))
      },
      Some("""WITH c AS (
             |  SELECT label, CAST(count(*) AS BIGINT) AS n
             |  FROM embeddings GROUP BY label),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
             |      CAST(max(n) AS BIGINT) AS mx FROM c)
             |SELECT label, n,
             |  round(CAST(n AS DOUBLE) / tot, 6) + 0.0 AS share,
             |  round(CAST(n AS DOUBLE) / mx, 6) + 0.0 AS ratio_to_max
             |FROM c CROSS JOIN t ORDER BY label""".stripMargin)),

    // Q33 — token frequency: generator (explode) + hash agg + top-k with
    // full tiebreak. Partial aggregation keeps the shuffle small. The
    // at-scale swap is the REGISTERED dual q33_token_freq_approx
    // (`approx_top_k`, below): one pass, kilobyte mergeable state, no
    // exact (token, count) shuffle — exact counts here because the oracle
    // compare needs determinism, approximate on a 100 TB vocabulary
    // where the exact agg's shuffle is the bottleneck (same posture as
    // q13_approx_distinct vs q12_count_distinct).
    Q("q33_token_freq",
      (s, d) => {
        Graft.tokenFrequency(Tables(s, d, "documents"), col("text"), 50)
      },
      Some("""SELECT word, count(*) AS cnt FROM (
             |  SELECT unnest(string_split(lower(text), ' ')) AS word
             |  FROM documents)
             |GROUP BY word ORDER BY cnt DESC, word LIMIT 50""".stripMargin)),

    // Q33a — the sketch dual of q33_token_freq: `approx_top_k` frequent-
    // items aggregate, the documented 100 TB swap made a first-class
    // registered query. Engine-verified (sketch internals differ from any
    // SQL oracle's; selection under boundary ties is sketch-order): the
    // frequent-items laws — no-eviction ⇒ exact counts, eviction ⇒
    // ±N/maxMapSize envelope with guaranteed heavy-hitter recall — are
    // proven against tokenFrequency in GraftApiSpec. Measured on the 10×
    // stress corpus (graft.Stress, ~10× vocabulary): exact 2.25 s vs
    // sketch 0.93 s — the gap is the vocabulary-sized shuffle vs one
    // bounded sketch per partition, and widens with distinct tokens.
    Q("q33_token_freq_approx",
      (s, d) => {
        Graft.tokenFrequencyApprox(Tables(s, d, "documents"), col("text"),
          50, maxItemsTracked = 10000)
      },
      None),

    // Q33b — per-language document stats (integer sums are exact, so the
    // avg is deterministic without decimal detours).
    Q("q33_lang_stats",
      (s, d) => {
        Tables(s, d, "documents")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            (sum(col("n_chars")).cast(DoubleType) / count(col("n_chars")))
              .as("avg_chars"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(n_chars) AS avg_chars,
             |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Q34 — multimodal/struct columns: pack metadata into a struct, operate
    // on struct fields (filter + group on nested refs), project flattened
    // (struct output itself is engine-verified territory; the declared
    // variant flattens for the oracle).
    Q("q34_struct",
      (s, d) => {
        val meta = struct(col("lang").as("lang"), col("source").as("source"),
          col("n_chars").as("n_chars"))
        Tables(s, d, "documents")
          .select(col("doc_id"), meta.as("meta"))
          .filter(col("meta.n_chars") > 200)
          .groupBy(col("meta.lang").as("lang"))
          .agg(count(lit(1)).as("n_big"),
            max(col("meta.n_chars")).as("max_chars"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS n_big, max(n_chars) AS max_chars
             |FROM documents WHERE n_chars > 200
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Q30g — benchmark decontamination (Graft.decontaminate): per-document
    // count of distinct 5-gram shingles shared with a simulated eval
    // benchmark (docs with doc_id % 37 = 0), over the rest of the corpus.
    // The benchmark shingle set is broadcast — at 100 TB the corpus side
    // streams map-side; only the per-doc count aggregation shuffles.
    Q("q30_decontam",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val bench = docs.filter(pmod(col("doc_id"), lit(37)) === 0)
        val corpus = docs.filter(pmod(col("doc_id"), lit(37)) =!= 0)
        Graft.decontaminate(corpus, bench, col("doc_id"), col("text"),
            col("text"), k = 5)
          .select(col("doc_id"), col("lang"), col("n_overlap"),
            col("contaminated"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH sh AS (
             |  SELECT doc_id, list_distinct(
             |    [array_to_string(ts[i:i+4], ' ')
             |     FOR i IN range(1, greatest(len(ts) - 4, 1) + 1)]) AS shs
             |  FROM (SELECT doc_id, string_split(text, ' ') AS ts
             |        FROM documents)),
             |bench AS (
             |  SELECT DISTINCT unnest(shs) AS s FROM sh WHERE doc_id % 37 = 0),
             |docsh AS (
             |  SELECT doc_id, unnest(shs) AS s FROM sh WHERE doc_id % 37 <> 0),
             |ov AS (
             |  SELECT doc_id, CAST(count(DISTINCT s) AS BIGINT) AS n_overlap
             |  FROM docsh JOIN bench USING (s) GROUP BY doc_id)
             |SELECT d.doc_id, d.lang,
             |  COALESCE(ov.n_overlap, 0) AS n_overlap,
             |  COALESCE(ov.n_overlap, 0) > 0 AS contaminated
             |FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
             |WHERE d.doc_id % 37 <> 0 ORDER BY d.doc_id""".stripMargin)),

    // Q30h — cleaning-funnel stats: per-source survivor counts through the
    // cumulative stage chain (language allowlist -> length gate -> token
    // floor -> exact-dedup canonical). One window (content-signature
    // keep-first, the q30_dedup shape) + one partial-aggregated group-by;
    // conditional counts are count_if-style codegen sums. This is the
    // monitoring query a 100 TB cleaning run reports per shard.
    Q("q30_funnel",
      (s, d) => {
        val sigW = Window.partitionBy(Graft.contentSignature(col("text")))
          .orderBy(col("doc_id"))
        val staged = Tables(s, d, "documents")
          .withColumn("__canon", row_number().over(sigW) === 1)
          .withColumn("__s1", col("lang").isin("en", "de", "fr"))
          .withColumn("__s2", col("__s1") && col("n_chars").between(100, 5000))
          .withColumn("__s3",
            col("__s2") && size(split(col("text"), " ")) >= 20)
          .withColumn("__s4", col("__s3") && col("__canon"))
        staged.groupBy(col("source"))
          .agg(count(lit(1)).as("n_total"),
            count_if(col("__s1")).as("n_lang"),
            count_if(col("__s2")).as("n_len"),
            count_if(col("__s3")).as("n_tokens"),
            count_if(col("__s4")).as("n_final"))
          .orderBy(col("source"))
      },
      Some("""WITH staged AS (
             |  SELECT source,
             |    row_number() OVER (
             |      PARTITION BY md5(array_to_string(list_sort(list_distinct(
             |        string_split(text, ' '))), ' '))
             |      ORDER BY doc_id) = 1 AS canon,
             |    lang IN ('en', 'de', 'fr') AS s1,
             |    n_chars BETWEEN 100 AND 5000 AS s2,
             |    len(string_split(text, ' ')) >= 20 AS s3
             |  FROM documents)
             |SELECT source,
             |  CAST(count(*) AS BIGINT) AS n_total,
             |  CAST(count_if(s1) AS BIGINT) AS n_lang,
             |  CAST(count_if(s1 AND s2) AS BIGINT) AS n_len,
             |  CAST(count_if(s1 AND s2 AND s3) AS BIGINT) AS n_tokens,
             |  CAST(count_if(s1 AND s2 AND s3 AND canon) AS BIGINT) AS n_final
             |FROM staged GROUP BY source ORDER BY source""".stripMargin)),

    // Q30i — deterministic shard assignment (Graft.shardAssign): the
    // portable-hash shard key a 100 TB corpus write partitions by, with
    // per-shard balance stats. Shard membership is a pure function of
    // doc_id — stable under reruns, engines, and cluster sizes.
    Q("q30_shards",
      (s, d) => {
        Graft.shardAssign(Tables(s, d, "documents"), col("doc_id"), 16)
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"))
          .orderBy(col("shard"))
      },
      Some("""SELECT
             |  CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
             |       AS BIGINT) % 16 AS INT) AS shard,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
             |FROM documents GROUP BY shard ORDER BY shard""".stripMargin)),

    // Q30j — Bloom-filter decontamination (Graft.bloomDecontaminate): the
    // sub-linear-memory dual of q30_decontam — benchmark shingles fold
    // into a deterministic Bloom filter, the corpus probe is a map-side
    // bit test. Engine-verified (DuckDB has no Bloom surface): the driver
    // checks rows-only; the containment law vs the exact path (no false
    // negatives, counts >= exact, FPR-bounded) is GraftApiSpec territory.
    // Deterministic: the filter's bits are a pure function of the
    // (shingle set, fpp), so the flagged set is run-stable.
    Q("q30_bloom",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val bench = docs.filter(pmod(col("doc_id"), lit(37)) === 0)
        val corpus = docs.filter(pmod(col("doc_id"), lit(37)) =!= 0)
        Graft.bloomDecontaminate(corpus, bench, col("doc_id"), col("text"),
            col("text"), k = 5, fpp = 0.001)
          .select(col("id").as("doc_id"), col("n_bloom_hits"))
          .orderBy(col("doc_id"))
      },
      None),

    // Q51 — incremental corpus dedup (Graft.dedupIncremental): the
    // steady-state ingest shape — dedup only the NEW batch (odd doc_ids)
    // against fixed-width signatures of the standing corpus (even
    // doc_ids), then within-batch keep-first. The corpus ships 16-byte
    // md5 keys into a left-anti join, never document bodies.
    Q("q51_dedup_incr",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val corpus = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        val batch = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        Graft.dedupIncremental(batch, corpus, col("text"), col("text"),
            order = Seq(col("doc_id")))
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH sigs AS (
             |  SELECT doc_id, lang, source, n_chars, doc_id % 2 AS par,
             |    md5(array_to_string(list_sort(list_distinct(
             |      string_split(text, ' '))), ' ')) AS sig
             |  FROM documents),
             |batch AS (
             |  SELECT * FROM (
             |    SELECT *, row_number() OVER (PARTITION BY sig
             |                                 ORDER BY doc_id) AS rn
             |    FROM sigs WHERE par = 1) WHERE rn = 1)
             |SELECT doc_id, lang, source, n_chars FROM batch b
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM sigs c WHERE c.par = 0 AND c.sig = b.sig)
             |ORDER BY doc_id""".stripMargin)),

    // Q54 — deterministic weighted sampling (Graft.weightedSample,
    // Efraimidis–Spirakis A-Res): 50 documents drawn with probability
    // proportional to length, as a pure function of doc_id — the plan is
    // TakeOrderedAndProject over per-row hash arithmetic, no RNG state.
    Q("q54_weighted_sample",
      (s, d) => {
        Graft.weightedSample(Tables(s, d, "documents"),
            id = col("doc_id"), weight = col("n_chars"), k = 50)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang, n_chars FROM (
             |  SELECT doc_id, lang, n_chars,
             |    ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
             |         AS BIGINT) + 0.5) / 4294967296.0)
             |      / CAST(n_chars AS DOUBLE) AS s
             |  FROM documents ORDER BY s DESC, doc_id LIMIT 50)
             |ORDER BY doc_id""".stripMargin)),

    // Q56 — deterministic training-mix interleave (Graft.mixSources):
    // per-source virtual time rn/weight; sorting by it yields the target
    // source proportions at every prefix. src0 is upweighted 3x here; the
    // global rank is deliberately left as a sort column (range-partitioned
    // sort at write time), never materialized through one task.
    Q("q56_mix",
      (s, d) => {
        Graft.mixSources(Tables(s, d, "documents"),
            source = col("source"), order = Seq(col("doc_id")),
            weights = Map("src0" -> 3.0), defaultWeight = 1.0)
          .select(col("doc_id"), col("source"), col("mix_order"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, source,
             |  CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
             |       AS DOUBLE)
             |    / (CASE WHEN source = 'src0' THEN 3.0 ELSE 1.0 END)
             |    AS mix_order
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Q57 — corpus snapshot diff (Graft.snapshotDiff): added / removed /
    // changed keys between two simulated crawl snapshots (membership by
    // doc_id mod, a content perturbation on every 11th doc). The join runs
    // on (key, md5 sig) projections — bodies never shuffle — and the
    // unchanged majority is filtered before output.
    Q("q57_snapshot_diff",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val oldSnap = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        val newSnap = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
          .select(col("doc_id"), col("lang"), col("source"),
            (col("n_chars") + when(pmod(col("doc_id"), lit(11)) === 0, 1)
              .otherwise(0)).as("n_chars"))
        Graft.snapshotDiff(oldSnap, newSnap, key = "doc_id",
            hashCols = Seq("lang", "source", "n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH olds AS (
             |  SELECT doc_id, lang, source, n_chars FROM documents
             |  WHERE doc_id % 7 != 0),
             |news AS (
             |  SELECT doc_id, lang, source,
             |    n_chars + (CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END)
             |      AS n_chars
             |  FROM documents WHERE doc_id % 5 != 0)
             |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             |  CASE WHEN o.doc_id IS NULL THEN 'added'
             |       WHEN n.doc_id IS NULL THEN 'removed'
             |       ELSE 'changed' END AS change
             |FROM olds o FULL OUTER JOIN news n ON o.doc_id = n.doc_id
             |WHERE o.doc_id IS NULL OR n.doc_id IS NULL
             |   OR o.lang != n.lang OR o.source != n.source
             |   OR o.n_chars != n.n_chars
             |ORDER BY doc_id""".stripMargin)),

    // Q66 — triangle listing over the dup graph (Graft.triangles):
    // triangles measure clique density — a dup cluster whose pairs all
    // close into triangles is one page crawled N times (safe to collapse
    // to one survivor); a sparse star is a hub template linking distinct
    // pages (collapsing loses content). Degree-ordered two-join algorithm
    // (wedge fan-out bounded by O(√|E|) per source — the naive a<b<c
    // orientation explodes on hubs); all shuffles are keyed equi-joins.
    // The oracle needs no graph code: exact-dup edges are signature
    // cliques, so triangles are exactly the 3-subsets per signature.
    // maxDegree=100 is the mega-clique guard: a k-clique yields C(k,3)
    // output rows (a 248-dup page alone would be ~2.5M triangles), so
    // nodes over the cap are excluded — enumerate the normal dup graph,
    // count the pathological one in closed form (Graft.highDegreeNodes).
    // In the signature-clique graph degree = k-1, so the oracle mirrors
    // the guard as sig-group size <= 101.
    Q("q66_triangles",
      (s, d) => {
        val pairs = Graft.exactDupPairs(Tables(s, d, "documents"),
          id = col("doc_id"), text = col("text"))
        Graft.triangles(pairs, maxDegree = Some(100L))
          .orderBy(col("x"), col("y"), col("z"))
      },
      Some("""WITH sigs AS (
             |  SELECT doc_id,
             |    md5(array_to_string(list_sort(list_distinct(
             |      string_split(text, ' '))), ' ')) AS sig
             |  FROM documents),
             |small AS (
             |  SELECT sig FROM sigs GROUP BY sig HAVING count(*) <= 101),
             |s2 AS (SELECT sigs.* FROM sigs JOIN small USING (sig))
             |SELECT a.doc_id AS x, b.doc_id AS y, c.doc_id AS z
             |FROM s2 a JOIN s2 b
             |  ON a.sig = b.sig AND a.doc_id < b.doc_id
             |JOIN s2 c ON b.sig = c.sig AND b.doc_id < c.doc_id
             |ORDER BY x, y, z""".stripMargin)),

    // Q68 — exact grouped k-NN (Graft.knnWithinGroups): every vector's 3
    // nearest cosine neighbors within its label cell — the threshold-
    // calibration sweep run before a full embedding-dedup pass (pick the
    // near-dup cutoff FROM this distribution, don't guess it). Blocked
    // self-join (never all-pairs) + native codegen'd cosine map-side +
    // one keyed top-k window; corpus-wide kNN at scale goes through the
    // ANN cell/bucket paths, with this as the in-cell exact refinement.
    Q("q68_knn",
      (s, d) => {
        Graft.knnWithinGroups(Tables(s, d, "embeddings"),
            id = col("vec_id"), group = col("label"),
            vec = col("embedding"), k = 3)
          .select(col("id").as("vec_id"), col("grp").as("label"),
            // Exact.round6: cosine is signed for real embeddings — a
            // near-orthogonal pair can round to -0.0
            col("rank"), col("nn_id"), graft.Exact.round6(col("sim")).as("sim"))
          .orderBy(col("vec_id"), col("rank"))
      },
      Some("""WITH e AS (SELECT vec_id, label,
             |            CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |p AS (
             |  SELECT a.vec_id AS vec_id, a.label AS label,
             |    b.vec_id AS nn_id, list_cosine_similarity(a.v, b.v) AS sim
             |  FROM e a JOIN e b
             |    ON a.label = b.label AND a.vec_id <> b.vec_id),
             |r AS (
             |  SELECT vec_id, label, nn_id, sim, row_number() OVER (
             |    PARTITION BY vec_id ORDER BY sim DESC, nn_id) AS rank
             |  FROM p)
             |SELECT vec_id, label, CAST(rank AS INTEGER) AS rank, nn_id,
             |  round(sim, 6) + 0.0 AS sim
             |FROM r WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin)),

    // Q69 — shingle containment (Graft.shingleContainment): pairs where
    // ≥60% of a's distinct 5-gram shingles occur in b — the asymmetric
    // quote/excerpt detector Jaccard misses (a quote inside a long page
    // has high containment, near-zero Jaccard). Candidates from an
    // exploded-shingle equi-join keyed by the portable md5-prefix hash
    // (8-byte shuffle keys, not n-gram strings); shingles with df > 100
    // are dropped from BOTH candidate generation and scoring (the
    // corpus-scale stopphrase guard, mirrored exactly in the oracle).
    Q("q69_containment",
      (s, d) => {
        Graft.shingleContainment(Tables(s, d, "documents"),
            id = col("doc_id"), text = col("text"), n = 5,
            minContain = 0.6, maxDf = 100L)
          .select(col("id_a"), col("id_b"), col("n_shared"),
            round(col("containment"), 6).as("containment"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH sh AS (
             |  SELECT doc_id, unnest(list_distinct(
             |    [CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT)
             |     FOR g IN [array_to_string(ts[i:i+4], ' ')
             |               FOR i IN range(1, greatest(len(ts) - 4, 1) + 1)]]))
             |    AS s
             |  FROM (SELECT doc_id, string_split(text, ' ') AS ts
             |        FROM documents)),
             |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
             |shr AS (SELECT doc_id, s FROM sh JOIN rare USING (s)),
             |sz AS (SELECT doc_id, count(*) AS sz FROM shr GROUP BY doc_id),
             |pc AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |    CAST(count(*) AS BIGINT) AS n_shared
             |  FROM shr a JOIN shr b
             |    ON a.s = b.s AND a.doc_id <> b.doc_id
             |  GROUP BY a.doc_id, b.doc_id)
             |SELECT id_a, id_b, n_shared,
             |  round(CAST(n_shared AS DOUBLE) / sz.sz, 6) AS containment
             |FROM pc JOIN sz ON pc.id_a = sz.doc_id
             |WHERE CAST(n_shared AS DOUBLE) / sz.sz >= 0.6
             |ORDER BY id_a, id_b""".stripMargin)),

    // Q71 — exact-k per-group sample (Graft.sampleKPerGroup): exactly 20
    // docs per language by lowest md5(doc_id) — the fixed-size eval-split
    // draw. Rate-based hash sampling (q30_sample/q30_stratified) varies
    // the drawn COUNT; this guarantees it, still reproducible across
    // runs/engines/input order. One keyed window, O(1) memory per group.
    Q("q71_group_sample",
      (s, d) => {
        Graft.sampleKPerGroup(Tables(s, d, "documents"),
            group = col("lang"), id = col("doc_id"), k = 20)
          .select(col("lang"), col("doc_id"), col("source"))
          .orderBy(col("lang"), col("doc_id"))
      },
      Some("""SELECT lang, doc_id, source FROM (
             |  SELECT lang, doc_id, source, row_number() OVER (
             |    PARTITION BY lang
             |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
             |  FROM documents)
             |WHERE rk <= 20 ORDER BY lang, doc_id""".stripMargin)),

    // Q74 — cluster collapse / survivorship (Graft.collapseClusters): the
    // step that USES the dup graph — every doc joins its connected
    // component (singletons stand alone), the longest member (tiebreak:
    // lowest id) survives, and each cluster reports membership stats —
    // the survivors+audit table a cleaning run actually materializes.
    // Oracle closed form: exact-dup components ARE the signature groups,
    // so cluster = min id and survivor = first by (n_chars desc, id)
    // within the signature. A NULL text pairs with nothing, so its
    // signature is made distinct per document: each stays a singleton.
    Q("q74_survivorship",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val pairs = Graft.exactDupPairs(docs, id = col("doc_id"),
          text = col("text"))
        Graft.collapseClusters(docs, pairs, id = col("doc_id"),
            order = Seq(col("n_chars").desc, col("doc_id")),
            stats = Seq("max_chars" -> max(col("n_chars"))))
          .select(col("cluster"), col("keep_id").as("keep_doc"),
            col("n_members"), col("max_chars"))
          .orderBy(col("cluster"))
      },
      Some("""WITH sigs AS (
             |  SELECT doc_id, n_chars,
             |    COALESCE(md5(array_to_string(list_sort(list_distinct(
             |      string_split(text, ' '))), ' ')),
             |      'null:' || CAST(doc_id AS VARCHAR)) AS sig
             |  FROM documents),
             |r AS (
             |  SELECT doc_id, n_chars,
             |    row_number() OVER (PARTITION BY sig
             |      ORDER BY n_chars DESC, doc_id) AS rk,
             |    min(doc_id) OVER (PARTITION BY sig) AS cluster,
             |    count(*) OVER (PARTITION BY sig) AS n_members,
             |    max(n_chars) OVER (PARTITION BY sig) AS max_chars
             |  FROM sigs)
             |SELECT cluster, doc_id AS keep_doc,
             |  CAST(n_members AS BIGINT) AS n_members, max_chars
             |FROM r WHERE rk = 1 ORDER BY cluster""".stripMargin)),

    // Q145 — BM25 lexical retrieval (Graft.bm25Scores): Okapi BM25 over
    // a 3-term query, top 20 docs. The oracle replays the exact formula
    // term-by-term; per-doc summation is the decimal-exact Exact.dsum on
    // both sides, so the cross-term sum is order-free. Tokens filter to
    // the query terms BEFORE the (doc,term) agg — at corpus scale only
    // query-term hits shuffle, the rest of the volume stops at the
    // doc-length partial agg.
    Q("q145_bm25",
      (s, d) => {
        // top-20 via orderBy+limit = TakeOrderedAndProject: per-partition
        // heaps, no global sort — the only scale-safe global top-k
        Graft.bm25Scores(Tables(s, d, "documents"),
            id = col("doc_id"), text = col("text"),
            queryTerms = Seq("spark", "window", "merge"))
          .select(col("id").as("doc_id"), col("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
             |  FROM documents),
             |dlen AS (SELECT doc_id, count(*) AS dl FROM toks
             |         GROUP BY doc_id),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
             |       WHERE tok IN ('spark', 'window', 'merge')
             |       GROUP BY doc_id, tok),
             |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
             |stats AS (SELECT count(*) AS n_docs,
             |            CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
             |          FROM dlen),
             |ts AS (
             |  SELECT tf.doc_id,
             |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)
             |        + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
             |      (CAST(tf AS DOUBLE) * 2.2 / (CAST(tf AS DOUBLE)
             |        + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)))
             |      AS s
             |  FROM tf JOIN dlen USING (doc_id) JOIN dfreq USING (tok)
             |  CROSS JOIN stats),
             |agg AS (SELECT doc_id, %SUM% AS score FROM ts
             |        GROUP BY doc_id)
             |SELECT doc_id, score FROM (
             |  SELECT doc_id, score, row_number() OVER (
             |    ORDER BY score DESC, doc_id) AS rk FROM agg)
             |WHERE rk <= 20 ORDER BY score DESC, doc_id"""
        .stripMargin.replace("%SUM%", graft.Exact.sqlSum("s")))),

    // Q146 — reciprocal-rank fusion (Graft.rrfFuse): the hybrid-search
    // combiner over two CANDIDATE LISTS — lexical (top-100 BM25 over the
    // same 3-term query) ⊕ a brevity prior (top-100 by n_chars asc;
    // stand-in for the dense ANN list, which has no SQL-safe oracle).
    // Each list is cut by orderBy+limit (TakeOrderedAndProject — no
    // global sort), THEN densely ranked by a global window over the
    // 100-row list (bounded-input exception). Integer ranks →
    // 1/(60+rank) sums are bit-identical across engines; ids missing
    // from one list contribute 0 via the outer join. Top 10 fused.
    Q("q146_rrf",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val bm = Graft.bm25Scores(docs, id = col("doc_id"),
          text = col("text"), queryTerms = Seq("spark", "window", "merge"))
        // 100-row candidate lists: the window under row_number is bounded
        val rankA = bm.orderBy(col("score").desc, col("id")).limit(100)
          .select(col("id"), row_number().over(
            Window.orderBy(col("score").desc, col("id"))).as("rank"))
        val rankB = docs.orderBy(col("n_chars"), col("doc_id")).limit(100)
          .select(col("doc_id").as("id"), row_number().over(
            Window.orderBy(col("n_chars"), col("doc_id"))).as("rank"))
        Graft.rrfFuse(rankA, rankB)
          .select(col("id").as("doc_id"), col("rank_a"), col("rank_b"),
            col("rrf"))
          .orderBy(col("rrf").desc, col("doc_id"))
          .limit(10)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
             |  FROM documents),
             |dlen AS (SELECT doc_id, count(*) AS dl FROM toks
             |         GROUP BY doc_id),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
             |       WHERE tok IN ('spark', 'window', 'merge')
             |       GROUP BY doc_id, tok),
             |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
             |stats AS (SELECT count(*) AS n_docs,
             |            CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
             |          FROM dlen),
             |ts AS (
             |  SELECT tf.doc_id,
             |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)
             |        + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
             |      (CAST(tf AS DOUBLE) * 2.2 / (CAST(tf AS DOUBLE)
             |        + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)))
             |      AS s
             |  FROM tf JOIN dlen USING (doc_id) JOIN dfreq USING (tok)
             |  CROSS JOIN stats),
             |bm AS (SELECT doc_id, %SUM% AS score FROM ts
             |       GROUP BY doc_id),
             |ra AS (SELECT id, rank_a FROM (
             |         SELECT doc_id AS id, row_number() OVER (
             |           ORDER BY score DESC, doc_id) AS rank_a FROM bm)
             |       WHERE rank_a <= 100),
             |rb AS (SELECT id, rank_b FROM (
             |         SELECT doc_id AS id, row_number() OVER (
             |           ORDER BY n_chars, doc_id) AS rank_b
             |         FROM documents)
             |       WHERE rank_b <= 100),
             |fused AS (
             |  SELECT COALESCE(ra.id, rb.id) AS doc_id, rank_a, rank_b,
             |    COALESCE(1.0 / (60.0 + CAST(rank_a AS DOUBLE)), 0.0) +
             |    COALESCE(1.0 / (60.0 + CAST(rank_b AS DOUBLE)), 0.0)
             |      AS rrf
             |  FROM ra FULL OUTER JOIN rb ON ra.id = rb.id)
             |SELECT doc_id, rank_a, rank_b, rrf FROM (
             |  SELECT doc_id, rank_a, rank_b, rrf, row_number() OVER (
             |    ORDER BY rrf DESC, doc_id) AS rk FROM fused)
             |WHERE rk <= 10 ORDER BY rrf DESC, doc_id"""
        .stripMargin.replace("%SUM%", graft.Exact.sqlSum("s")))),

    // Q147 — Holt double-exponential smoothing (Graft.holtSmooth): per-
    // user level+trend over purchase values — the forecasting recurrence
    // (q85 EWMA's sibling with a trend term) that NO window expresses
    // (l_t folds the whole prefix non-associatively), so it runs as the
    // dedupWithinTtl shape: one keyed shuffle + secondary sort, O(1)
    // state. Oracle: the identical recurrence as a recursive CTE walking
    // rn → rn+1 per key; α=0.5 / β=0.25 are exactly representable and
    // the step expressions are structurally identical on both engines,
    // so doubles agree bit-for-bit before the 6dp rounding.
    Q("q147_holt",
      (s, d) => {
        val purchases = Tables(s, d, "events")
          .filter(col("event_type") === "purchase" && col("value").isNotNull)
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        // RAW doubles on both sides, no in-query round: the recurrence is
        // bit-identical across engines (same ops, same order), and the
        // harness's shared normalizer rounds both sides with ONE rounding
        // function — an in-query round(…, 6) hit engine-specific tie
        // behavior at values like 1.0128125 (Spark rounds the shortest
        // decimal repr up, DuckDB rounds the binary double down).
        Graft.holtSmooth(purchases, key = col("user_id"), time = col("ts"),
            value = col("value"), tieBreak = col("event_id"),
            alpha = 0.5, beta = 0.25)
          .select(col("event_id"), col("user_id"), col("level"), col("trend"))
          .orderBy(col("event_id"))
      },
      Some("""WITH RECURSIVE ordered AS (
             |  SELECT event_id, user_id, value AS y,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts) // 1000000, event_id) AS rn
             |  FROM events
             |  WHERE event_type = 'purchase' AND value IS NOT NULL),
             |rec AS (
             |  -- DOUBLE anchors: DuckDB types the recursive branch from
             |  -- the anchor, and a DECIMAL '0.0' would narrow every trend
             |  SELECT event_id, user_id, y, rn, CAST(y AS DOUBLE) AS level,
             |    CAST(0.0 AS DOUBLE) AS trend
             |  FROM ordered WHERE rn = 1
             |  UNION ALL
             |  SELECT o.event_id, o.user_id, o.y, o.rn,
             |    0.5 * o.y + 0.5 * (r.level + r.trend) AS level,
             |    0.25 * ((0.5 * o.y + 0.5 * (r.level + r.trend))
             |      - r.level) + 0.75 * r.trend AS trend
             |  FROM rec r JOIN ordered o
             |    ON o.user_id = r.user_id AND o.rn = r.rn + 1)
             |SELECT event_id, user_id, level, trend
             |FROM rec ORDER BY event_id""".stripMargin)),

    // Q157 — corpus-level source similarity: pairwise Jaccard between
    // data SOURCES over their distinct 5-token shingle sets — the
    // dataset-curation readout ("how much does source A re-serve source
    // B's content?") that decides dedup priorities and mixture weights
    // before a 100 TB ingest. Shape: ONE pass over the corpus — distinct
    // (source, shingle) projection (partial-aggregated), then per-shingle
    // source SETS (bounded by |sources|, not |docs|) exploded into
    // ordered pairs for the intersection counts; no self-join, so the
    // corpus is shingled once, and the only large shuffles are the two
    // keyed aggregates (Catalyst reuses the distinct's exchange for
    // both consumers). The pair frame lives in |sources|² space.
    Q("q157_corpus_sim",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        // r18: ONE tokenize pass — collect_set dedups (source, shingle)
        // inside the per-shingle aggregate (replacing explode → distinct,
        // which re-exploded the corpus once per consumer: sizes AND the
        // pair expansion). r19: the r18 `.cache()` on this bucket table
        // REGRESSED 0.82× in the driver's 32-core run and anti-scaled
        // (8c/32c 0.86) — the materialization is a serial barrier, while
        // the two consumers' recomputed branches evaluate in parallel on
        // idle cores; dropped (the one-pass groupBy shape stays).
        val bySh = docs.select(col("source"),
            explode(Graft.shingleSet(col("text"), 5)).as("sh"))
          .groupBy(col("sh"))
          .agg(collect_set(col("source")).as("srcs"))
        val sizes = bySh.select(explode(col("srcs")).as("source"))
          .groupBy(col("source")).agg(count(lit(1)).as("n"))
        val inter = bySh
          .where(size(col("srcs")) >= 2)
          .select(explode(col("srcs")).as("src_a"), col("srcs"))
          .select(col("src_a"), explode(col("srcs")).as("src_b"))
          .where(col("src_a") < col("src_b"))
          .groupBy(col("src_a"), col("src_b"))
          .agg(count(lit(1)).as("n_common"))
        val srcs = docs.select(col("source")).distinct()
        val pairs = srcs.as("x").join(srcs.as("y"),
            col("x.source") < col("y.source"))
          .select(col("x.source").as("src_a"), col("y.source").as("src_b"))
        pairs.join(inter, Seq("src_a", "src_b"), "left")
          .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
          .join(sizes.select(col("source").as("src_a"), col("n").as("n_a")),
            Seq("src_a"))
          .join(sizes.select(col("source").as("src_b"), col("n").as("n_b")),
            Seq("src_b"))
          .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
            col("n_common"),
            (col("n_common").cast(DoubleType) /
              (col("n_a") + col("n_b") - col("n_common"))
                .cast(DoubleType)).as("jaccard"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some("""WITH sh0 AS (
             |  SELECT source, list_distinct(
             |    [array_to_string(ts[i:i+4], ' ')
             |     FOR i IN range(1, greatest(len(ts) - 4, 1) + 1)]) AS shs
             |  FROM (SELECT source, string_split(text, ' ') AS ts
             |        FROM documents)),
             |sh AS (SELECT DISTINCT source, unnest(shs) AS sh FROM sh0),
             |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n
             |          FROM sh GROUP BY source),
             |inter AS (
             |  SELECT a.source AS src_a, b.source AS src_b,
             |    CAST(count(*) AS BIGINT) AS n_common
             |  FROM sh a JOIN sh b
             |    ON a.sh = b.sh AND a.source < b.source
             |  GROUP BY 1, 2),
             |pairs AS (
             |  SELECT x.source AS src_a, y.source AS src_b
             |  FROM (SELECT DISTINCT source FROM documents) x
             |  JOIN (SELECT DISTINCT source FROM documents) y
             |    ON x.source < y.source)
             |SELECT p.src_a, p.src_b, sa.n AS n_a, sb.n AS n_b,
             |  COALESCE(i.n_common, 0) AS n_common,
             |  CAST(COALESCE(i.n_common, 0) AS DOUBLE) /
             |    CAST(sa.n + sb.n - COALESCE(i.n_common, 0) AS DOUBLE)
             |    AS jaccard
             |FROM pairs p
             |LEFT JOIN inter i ON p.src_a = i.src_a AND p.src_b = i.src_b
             |JOIN sizes sa ON sa.source = p.src_a
             |JOIN sizes sb ON sb.source = p.src_b
             |ORDER BY p.src_a, p.src_b""".stripMargin)),

    // Q32h — embedding-dimension health audit: per dimension, the
    // corpus mean and sample variance plus a dead-dimension flag
    // (variance below 1e-4 → the encoder collapsed that coordinate).
    // posexplode then ONE dim-keyed partial aggregate — |dims| output
    // rows regardless of corpus size; the audit that catches a broken
    // embedding export before it poisons every downstream ANN,
    // clustering, or quantization job.
    Q("q169_embed_dims",
      (s, d) => {
        Tables(s, d, "embeddings")
          .select(posexplode(col("embedding")).as(Seq("dim", "x")))
          .select(col("dim").cast(LongType).as("dim"),
            col("x").cast(DoubleType).as("x"))
          .groupBy(col("dim"))
          .agg(count(lit(1)).as("n"), avg(col("x")).as("mean"),
            var_samp(col("x")).as("variance"))
          .withColumn("dead",
            (col("variance") < 0.0001).cast(IntegerType))
          .orderBy(col("dim"))
      },
      Some("""WITH ex AS (
             |  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             |    CAST(unnest(embedding) AS DOUBLE) AS x
             |  FROM embeddings)
             |SELECT CAST(dim AS BIGINT) AS dim,
             |  CAST(count(*) AS BIGINT) AS n,
             |  avg(x) AS mean, var_samp(x) AS variance,
             |  CASE WHEN var_samp(x) < 0.0001 THEN 1 ELSE 0 END AS dead
             |FROM ex GROUP BY dim ORDER BY dim""".stripMargin)),

    // Q183 — per-label embedding-norm health (r13): the row-wise dual of
    // q169's per-dimension audit — mean/min/max L2 norm and a dead-vector
    // count per label catches an exporter that zeroed or blew up one
    // class's vectors (q169 would average the damage away across labels).
    // The norm is ONE codegen'd array fold per row (elements cast to
    // double before multiplying, so both engines do identical
    // arithmetic); then a label-keyed aggregate — |labels| output rows.
    Q("q183_embed_norms",
      (s, d) => {
        Tables(s, d, "embeddings")
          .withColumn("norm", sqrt(aggregate(col("embedding"), lit(0.0d),
            (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType))))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
            // davgHi: norm is a COMPUTED sqrt (see Exact.dsumHi)
            graft.Exact.round6(graft.Exact.davgHi(col("norm")))
              .as("mean_norm"),
            graft.Exact.round6(min(col("norm"))).as("min_norm"),
            graft.Exact.round6(max(col("norm"))).as("max_norm"),
            sum(when(col("norm") < 1e-6, 1L).otherwise(0L)).as("n_dead"))
          .orderBy(col("label"))
      },
      Some(s"""WITH nr AS (
             |  SELECT label, sqrt(list_aggregate(list_transform(embedding,
             |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
             |    AS norm
             |  FROM embeddings)
             |SELECT label, CAST(count(*) AS BIGINT) AS n,
             |  ${graft.Exact.sqlRound6(graft.Exact.sqlAvgHi("norm"))}
             |    AS mean_norm,
             |  round(min(norm), 6) + 0.0 AS min_norm,
             |  round(max(norm), 6) + 0.0 AS max_norm,
             |  CAST(sum(CASE WHEN norm < 0.000001 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_dead
             |FROM nr GROUP BY label ORDER BY label""".stripMargin)))
}
