package graft.queries

import graft.{Exact, Q, Tables}
import graft.api.Graft
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Statistical-testing and distribution-comparison operators (round 13
  * wave, SURVEY.md §2B-ext): rank correlation, divergence between corpus
  * slices, association strength, inequality curves, robust outliers,
  * two-sample distribution tests, inter-rater agreement, lexical
  * diversity, and sessionized engagement — the hypothesis-testing /
  * data-drift toolkit a curation pipeline runs between ingestion rounds.
  *
  * Determinism strategy (FIXTURES.md): every statistic is assembled from
  * EXACT integer/decimal aggregates (counts, cents, ranks) with the
  * irrational step (log2/sqrt/division) applied once per output row; the
  * few unavoidable per-row double terms (JSD/entropy logs) are cast to
  * DECIMAL(38,18) before summing so accumulation is order-independent on
  * both engines, and residual log-ulp drift sits ~8 orders of magnitude
  * below the 6-dp compare.
  *
  * Scale notes: no global single-task window over data-sized input — the
  * two rank scans ride [[graft.api.Graft.prefixSumExclusive]]'s chunked
  * two-level shape; the only `Window.orderBy` sites run over provably
  * bounded frames (calendar days, 10 deciles). Pairwise frames (JSD) are
  * |sources|²-bounded per token, the q157 posture.
  */
object StatTests {

  private val D0 = DecimalType(38, 0)
  private val D25 = DecimalType(25, 6)
  /** Order-independent accumulator for per-row irrational terms. */
  private val DTerm = DecimalType(38, 18)

  val qs: Seq[Q] = Seq(
    // Q193 — Spearman rank correlation between daily shipped quantity and
    // daily revenue. Days are a pre-aggregated, calendar-bounded frame
    // (~2.4k rows at any SF — the documented bounded-window exception), so
    // the two rank windows are safe; the statistic itself is the exact
    // permutation form 1 - 6·Σd²/(n(n²-1)) — integer math until one final
    // double division. Ties are totally ordered by (value, day) on both
    // engines, i.e. the row_number variant of Spearman, deterministic by
    // construction.
    Q("q193_spearman",
      (s, d) => {
        val daily = Tables(s, d, "lineitem")
          .groupBy(to_date(col("l_shipdate")).as("day"))
          .agg(sum(col("l_quantity").cast(D25)).as("q"),
            sum(col("l_extendedprice").cast(D25)).as("r"))
        // bounded input: one row per calendar ship day
        val wq = Window.orderBy(col("q"), col("day"))
        val wr = Window.orderBy(col("r"), col("day"))
        val ranked = daily
          .withColumn("rq", row_number().over(wq).cast(LongType))
          .withColumn("rr", row_number().over(wr).cast(LongType))
        ranked
          .agg(count(lit(1)).as("n_days"),
            sum(((col("rq") - col("rr")) * (col("rq") - col("rr")))
              .cast(D0)).as("sd2"))
          .select(col("n_days"),
            Exact.round6(lit(1.0) -
              lit(6.0) * col("sd2").cast(DoubleType) /
                (col("n_days") * (col("n_days") * col("n_days") - 1))
                  .cast(DoubleType)).as("spearman"))
          .orderBy(col("n_days"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(l_shipdate AS DATE) AS day,
             |    sum(CAST(l_quantity AS DECIMAL(25,6))) AS q,
             |    sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS r
             |  FROM lineitem GROUP BY 1),
             |rk AS (
             |  SELECT row_number() OVER (ORDER BY q, day) AS rq,
             |         row_number() OVER (ORDER BY r, day) AS rr
             |  FROM daily)
             |SELECT CAST(count(*) AS BIGINT) AS n_days,
             |  round(1.0 - 6.0 *
             |      CAST(sum(CAST((rq-rr)*(rq-rr) AS DECIMAL(38,0)))
             |        AS DOUBLE) /
             |      CAST(count(*)*(count(*)*count(*)-1) AS DOUBLE), 6)
             |    + 0.0 AS spearman
             |FROM rk ORDER BY n_days""".stripMargin)),

    // Q194 — Jensen–Shannon divergence between every pair of corpus
    // sources' token distributions: the symmetric, bounded [0,1]-bits
    // drift measure curation teams track across ingestion snapshots.
    // Shape: ONE tokenize pass → per-(source,tok) counts → tok-keyed
    // equi-join between per-source distributions (per-token fanout
    // bounded by |sources|², the q157 posture — never a doc×doc product).
    // Tokens present in only one side contribute exactly p/2 bits, so the
    // disjoint mass is recovered from the common-token sums in closed
    // form — no full-outer join needed.
    Q("q194_jsd",
      (s, d) => {
        val cnt = Tables(s, d, "documents")
          .select(col("source"),
            explode(split(lower(col("text")), " ")).as("tok"))
          .groupBy(col("source"), col("tok"))
          .agg(count(lit(1)).as("c"))
        val tot = cnt.groupBy(col("source")).agg(sum(col("c")).as("t"))
        val pc = cnt.join(tot, "source")
          .select(col("source"), col("tok"),
            (col("c").cast(DoubleType) / col("t").cast(DoubleType)).as("p"))
        // token buckets of (source, p) members: the probability table's
        // lineage runs once; bucket width is bounded by the source count
        val term =
          lit(0.5) * col("pa") *
            log2(lit(2.0) * col("pa") / (col("pa") + col("pb"))) +
          lit(0.5) * col("pb") *
            log2(lit(2.0) * col("pb") / (col("pa") + col("pb")))
        Graft.pairsWithinGroups(pc, Seq(col("tok")),
            struct(col("source"), col("p")))
          .select(col("a.source").as("source_a"),
            col("b.source").as("source_b"),
            col("a.p").as("pa"), col("b.p").as("pb"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("n_common"),
            sum(term.cast(DTerm)).as("ct"),
            sum(col("pa").cast(DTerm)).as("sa"),
            sum(col("pb").cast(DTerm)).as("sb"))
          .select(col("source_a"), col("source_b"), col("n_common"),
            Exact.round6(col("ct").cast(DoubleType) +
              lit(0.5) * (lit(1.0) - col("sa").cast(DoubleType)) +
              lit(0.5) * (lit(1.0) - col("sb").cast(DoubleType))).as("jsd"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some("""WITH cnt AS (
             |  SELECT source, tok, count(*) AS c FROM (
             |    SELECT source, unnest(string_split(lower(text), ' '))
             |      AS tok
             |    FROM documents) GROUP BY source, tok),
             |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS t
             |        FROM cnt GROUP BY source),
             |pc AS (SELECT cnt.source, tok,
             |         CAST(c AS DOUBLE)/CAST(t AS DOUBLE) AS p
             |       FROM cnt JOIN tot ON cnt.source = tot.source),
             |pairs AS (
             |  SELECT a.source AS source_a, b.source AS source_b,
             |    a.p AS pa, b.p AS pb
             |  FROM pc a JOIN pc b
             |    ON a.tok = b.tok AND a.source < b.source)
             |SELECT source_a, source_b,
             |  CAST(count(*) AS BIGINT) AS n_common,
             |  round(CAST(sum(CAST(
             |        0.5*pa*log2(2.0*pa/(pa+pb)) +
             |        0.5*pb*log2(2.0*pb/(pa+pb)) AS DECIMAL(38,18)))
             |      AS DOUBLE)
             |    + 0.5*(1.0 - CAST(sum(CAST(pa AS DECIMAL(38,18)))
             |        AS DOUBLE))
             |    + 0.5*(1.0 - CAST(sum(CAST(pb AS DECIMAL(38,18)))
             |        AS DOUBLE)), 6) + 0.0 AS jsd
             |FROM pairs GROUP BY source_a, source_b
             |ORDER BY source_a, source_b""".stripMargin)),

    // Q195 — Cramér's V association between order priority and order
    // status: the normalized, comparable-across-tables strength measure
    // q82_chi2's raw statistic lacks — and unlike q82 (observed cells
    // only), the chi-square here runs over the FULL contingency grid
    // including structurally-zero cells (both tiny distinct frames are
    // broadcast and cross-joined, never a data-sized product). All
    // margins are exact counts; sqrt is IEEE-correctly-rounded so the
    // final scalar is bit-identical across engines.
    Q("q195_cramers_v",
      (s, d) => {
        val obs = Tables(s, d, "orders")
          .groupBy(col("o_orderpriority").as("pri"),
            col("o_orderstatus").as("st"))
          .agg(count(lit(1)).as("c"))
        // r18 note: caching `obs` (read 5×) measured ~neutral-to-slower
        // at sf0.1 — five parallel re-scans of one pruned column beat the
        // materialization barrier; left uncached deliberately.
        val grid = broadcast(obs.select("pri").distinct())
          .crossJoin(broadcast(obs.select("st").distinct()))
        val cells = grid.join(obs, Seq("pri", "st"), "left")
          .na.fill(0L, Seq("c"))
        val rowt = obs.groupBy("pri").agg(sum("c").as("rt"))
        val colt = obs.groupBy("st").agg(sum("c").as("ct"))
        val n = obs.agg(sum("c").as("n"))
        val expd = col("rt").cast(DoubleType) * col("ct").cast(DoubleType) /
          col("n").cast(DoubleType)
        val chiterm = (col("c").cast(DoubleType) - expd) *
          (col("c").cast(DoubleType) - expd) / expd
        cells.join(broadcast(rowt), "pri").join(broadcast(colt), "st")
          .crossJoin(broadcast(n))
          .agg(max(col("n")).as("n_orders"),
            countDistinct(col("pri")).as("nr"),
            countDistinct(col("st")).as("nc"),
            sum(chiterm.cast(DTerm)).as("chi"))
          .select(col("n_orders"),
            (least(col("nr"), col("nc")) - 1).as("dof_min"),
            Exact.round6(col("chi").cast(DoubleType)).as("chi2"),
            Exact.round6(sqrt(col("chi").cast(DoubleType) /
              (col("n_orders") * (least(col("nr"), col("nc")) - 1))
                .cast(DoubleType))).as("cramers_v"))
          .orderBy(col("n_orders"))
      },
      Some("""WITH obs AS (
             |  SELECT o_orderpriority AS pri, o_orderstatus AS st,
             |    count(*) AS c
             |  FROM orders GROUP BY 1, 2),
             |grid AS (
             |  SELECT p.pri, s.st FROM
             |    (SELECT DISTINCT pri FROM obs) p,
             |    (SELECT DISTINCT st FROM obs) s),
             |cells AS (
             |  SELECT grid.pri, grid.st, COALESCE(obs.c, 0) AS c
             |  FROM grid LEFT JOIN obs
             |    ON grid.pri = obs.pri AND grid.st = obs.st),
             |rowt AS (SELECT pri, sum(c) AS rt FROM obs GROUP BY pri),
             |colt AS (SELECT st, sum(c) AS ct FROM obs GROUP BY st),
             |tot AS (SELECT sum(c) AS n FROM obs)
             |SELECT CAST(max(n) AS BIGINT) AS n_orders,
             |  CAST(least(count(DISTINCT cells.pri),
             |    count(DISTINCT cells.st)) - 1 AS BIGINT) AS dof_min,
             |  round(CAST(sum(CAST(
             |      (CAST(c AS DOUBLE) -
             |        CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/
             |          CAST(n AS DOUBLE)) *
             |      (CAST(c AS DOUBLE) -
             |        CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/
             |          CAST(n AS DOUBLE)) /
             |      (CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/
             |        CAST(n AS DOUBLE)) AS DECIMAL(38,18))) AS DOUBLE),
             |    6) + 0.0 AS chi2,
             |  round(sqrt(CAST(sum(CAST(
             |      (CAST(c AS DOUBLE) -
             |        CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/
             |          CAST(n AS DOUBLE)) *
             |      (CAST(c AS DOUBLE) -
             |        CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/
             |          CAST(n AS DOUBLE)) /
             |      (CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/
             |        CAST(n AS DOUBLE)) AS DECIMAL(38,18))) AS DOUBLE) /
             |    (CAST(max(n) AS DOUBLE) *
             |      (least(count(DISTINCT cells.pri),
             |        count(DISTINCT cells.st)) - 1))), 6)
             |    + 0.0 AS cramers_v
             |FROM cells
             |  JOIN rowt ON cells.pri = rowt.pri
             |  JOIN colt ON cells.st = colt.st, tot
             |""".stripMargin)),

    // Q196 — Lorenz curve of customer spend by decile: the inequality
    // curve behind q83's Gini scalar (which decile of customers carries
    // which share of revenue). Global ranking rides the chunked
    // prefix-scan with q83's DECIMAL(38,0) (cents, custkey) total-order
    // encoding — no single-task window over customers; the only
    // unpartitioned window is the cumulative sum over the 10-row decile
    // table (bounded input).
    Q("q196_lorenz",
      (s, d) => {
        val per = Tables(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg((sum(col("o_totalprice").cast(D25)) * 100)
            .cast(LongType).as("cents"))
        // r18 note: caching `per` (read 3×) measured SLOWER at sf0.1
        // (1.03 s → 1.47 s); left uncached deliberately.
        val ranked = graft.api.Graft.prefixSumExclusive(
          per.withColumn("__ord",
            col("cents").cast(D0) * 1000000000L + col("o_custkey")),
          col("__ord"), lit(1L), "rank0", chunkSize = 1L << 48)
        val tot = per.agg(count(lit(1)).as("n"),
          sum(col("cents").cast(D0)).as("tc"))
        val dec = ranked.crossJoin(broadcast(tot))
          .withColumn("decile", expr("(rank0 * 10) div n + 1"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("cents").cast(D0)).as("dc"), max(col("tc")).as("tc"))
        // bounded input: exactly 10 decile rows
        val wCum = Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        dec.select(col("decile"), col("n_customers"),
            Exact.round6(col("dc").cast(DoubleType) /
              col("tc").cast(DoubleType)).as("spend_share"),
            Exact.round6(sum(col("dc")).over(wCum).cast(DoubleType) /
              col("tc").cast(DoubleType)).as("cum_share"))
          .orderBy(col("decile"))
      },
      Some("""WITH per AS (
             |  SELECT o_custkey,
             |    CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100
             |      AS BIGINT) AS cents
             |  FROM orders GROUP BY o_custkey),
             |r AS (
             |  SELECT cents,
             |    row_number() OVER (ORDER BY
             |      CAST(cents AS HUGEINT) * 1000000000 + o_custkey) - 1
             |      AS rank0,
             |    count(*) OVER () AS n
             |  FROM per),
             |dec AS (
             |  SELECT CAST((rank0 * 10) // n + 1 AS BIGINT) AS decile,
             |    count(*) AS n_customers,
             |    sum(CAST(cents AS DECIMAL(38,0))) AS dc
             |  FROM r GROUP BY 1),
             |tot AS (SELECT sum(CAST(cents AS DECIMAL(38,0))) AS tc
             |        FROM per)
             |SELECT decile, CAST(n_customers AS BIGINT) AS n_customers,
             |  round(CAST(dc AS DOUBLE)/CAST(tc AS DOUBLE), 6) + 0.0
             |    AS spend_share,
             |  round(CAST(sum(dc) OVER (ORDER BY decile) AS DOUBLE) /
             |    CAST(tc AS DOUBLE), 6) + 0.0 AS cum_share
             |FROM dec, tot ORDER BY decile""".stripMargin)),

    // Q197 — MAD robust outliers per brand: median absolute deviation is
    // the outlier gate that (unlike q171's IQR fences on heavy tails, or
    // z-scores) a single extreme value cannot move. Prices ride as exact
    // cents; both medians interpolate on .5/.25-exact binary steps so the
    // exact `median` aggregate matches quantile_cont bit-for-bit (the q84
    // precedent). Groups are brand-bounded (~25), so grouped exact
    // medians hold at scale.
    Q("q197_mad_outliers",
      (s, d) => {
        val p = Tables(s, d, "part")
          .select(col("p_brand"),
            (col("p_retailprice").cast(D25) * 100).cast(LongType)
              .as("cents"))
        // brand-sized, but dev (its consumer) executes twice below — cache
        // so the exact-median buffering pass over part runs once (r18)
        val med = p.groupBy("p_brand").agg(median(col("cents")).as("med"))
          .cache()
        val dev = p.join(broadcast(med), "p_brand")
          .withColumn("adev",
            abs(col("cents").cast(DoubleType) - col("med")))
        val mad = dev.groupBy("p_brand").agg(median(col("adev")).as("mad"))
        dev.join(broadcast(mad), "p_brand")
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_parts"),
            max(col("med")).as("median_cents"),
            max(col("mad")).as("mad_cents"),
            sum(when(col("adev") > lit(3.0) * col("mad"), 1L)
              .otherwise(0L)).as("n_outliers"))
          .orderBy(col("p_brand"))
      },
      Some("""WITH p AS (
             |  SELECT p_brand,
             |    CAST(CAST(p_retailprice AS DECIMAL(25,6)) * 100
             |      AS BIGINT) AS cents
             |  FROM part),
             |med AS (SELECT p_brand, median(cents) AS med
             |        FROM p GROUP BY p_brand),
             |dev AS (
             |  SELECT p.p_brand,
             |    abs(CAST(cents AS DOUBLE) - med) AS adev, med
             |  FROM p JOIN med ON p.p_brand = med.p_brand),
             |mad AS (SELECT p_brand, median(adev) AS mad
             |        FROM dev GROUP BY p_brand)
             |SELECT dev.p_brand, CAST(count(*) AS BIGINT) AS n_parts,
             |  max(med) AS median_cents, max(mad) AS mad_cents,
             |  CAST(sum(CASE WHEN adev > 3.0*mad THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_outliers
             |FROM dev JOIN mad ON dev.p_brand = mad.p_brand
             |GROUP BY dev.p_brand ORDER BY dev.p_brand""".stripMargin)),

    // Q198 — two-sample Kolmogorov–Smirnov distance between the order-
    // total distributions of two customer segments — the EXACT-RATIONAL
    // dual of q72_ks_drift (Graft.ksStatistic, double-CDF divisions):
    // here D = max|F1−F2| is assembled from integer cross-products
    // (cum1·N2 − cum2·N1 in DECIMAL(38,0) — overflow-safe at any N, no
    // double op until the final division) over per-distinct-value
    // counts, and the populations are SEGMENTS (a real cohort compare)
    // rather than q72's even/odd drift split. Both cumulative counts
    // ride the chunked prefix-scan keyed by the unique cents value — no
    // single-task window over orders.
    Q("q198_ks_test",
      (s, d) => {
        val oc = Tables(s, d, "orders")
          .join(Tables(s, d, "customer"),
            col("o_custkey") === col("c_custkey"))
          .where(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
          .select(
            (col("o_totalprice").cast(D25) * 100).cast(LongType)
              .as("cents"),
            when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)
              .as("is1"))
        val byv = oc.groupBy(col("cents"))
          .agg(sum(col("is1")).as("c1"),
            (count(lit(1)) - sum(col("is1"))).as("c2"))
          // distinct-cents-sized; read by the prefix scan's two branches
          // and the totals — uncached each read re-runs the join (r18:
          // 10 parquet scans → 2)
          .cache()
        val cum = graft.api.Graft.prefixSumsExclusive(byv, col("cents"),
            Seq(col("c1") -> "e1", col("c2") -> "e2"))
          .withColumn("f1", col("e1") + col("c1"))
          .withColumn("f2", col("e2") + col("c2"))
        val tot = byv.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
        cum.crossJoin(broadcast(tot))
          .groupBy(col("n1"), col("n2"))
          .agg(max(abs(col("f1").cast(D0) * col("n2") -
            col("f2").cast(D0) * col("n1"))).as("dnum"))
          .select(col("n1"), col("n2"),
            Exact.round6(col("dnum").cast(DoubleType) /
              (col("n1").cast(DoubleType) * col("n2").cast(DoubleType)))
              .as("ks_d"))
          .orderBy(col("n1"))
      },
      Some("""WITH oc AS (
             |  SELECT CAST(CAST(o_totalprice AS DECIMAL(25,6)) * 100
             |      AS BIGINT) AS cents,
             |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
             |      AS is1
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
             |byv AS (
             |  SELECT cents, sum(is1) AS c1, count(*) - sum(is1) AS c2
             |  FROM oc GROUP BY cents),
             |cum AS (
             |  SELECT sum(c1) OVER (ORDER BY cents) AS f1,
             |         sum(c2) OVER (ORDER BY cents) AS f2
             |  FROM byv),
             |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
             |               CAST(sum(c2) AS BIGINT) AS n2 FROM byv)
             |SELECT n1, n2,
             |  round(CAST(max(abs(CAST(f1 AS DECIMAL(38,0)) * n2 -
             |      CAST(f2 AS DECIMAL(38,0)) * n1)) AS DOUBLE) /
             |    (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) + 0.0
             |    AS ks_d
             |FROM cum, tot GROUP BY n1, n2 ORDER BY n1""".stripMargin)),

    // Q199 — Cohen's kappa between two cheap document-quality raters
    // (char-length gate vs token-count gate): agreement beyond chance,
    // the calibration check before trusting any single heuristic filter.
    // The GLOBAL calibration summary with the po/pe decomposition
    // exposed — q141_kappa is the per-language agreement TABLE of the
    // same family (different raters, no chance-decomposition columns).
    // Pure scan: one pass, five exact counts, closed-form kappa.
    Q("q199_cohens_kappa",
      (s, d) => {
        val rated = Tables(s, d, "documents")
          .select((col("n_chars") >= 300).as("ra"),
            (size(split(col("text"), " ")) >= 50).as("rb"))
        val po = (col("n11") + col("n00")).cast(DoubleType) /
          col("n").cast(DoubleType)
        val pe = (col("na") * col("nb") +
          (col("n") - col("na")) * (col("n") - col("nb")))
          .cast(DoubleType) / (col("n") * col("n")).cast(DoubleType)
        rated
          .agg(count(lit(1)).as("n"),
            sum(when(col("ra") && col("rb"), 1L).otherwise(0L)).as("n11"),
            sum(when(!col("ra") && !col("rb"), 1L).otherwise(0L))
              .as("n00"),
            sum(when(col("ra"), 1L).otherwise(0L)).as("na"),
            sum(when(col("rb"), 1L).otherwise(0L)).as("nb"))
          .select(col("n").as("n_docs"),
            Exact.round6(po).as("po"),
            Exact.round6(pe).as("pe"),
            Exact.round6((po - pe) / (lit(1.0) - pe)).as("kappa"))
          .orderBy(col("n_docs"))
      },
      Some("""WITH rated AS (
             |  SELECT n_chars >= 300 AS ra,
             |    len(string_split(text, ' ')) >= 50 AS rb
             |  FROM documents),
             |c AS (
             |  SELECT count(*) AS n,
             |    sum(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS n11,
             |    sum(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END)
             |      AS n00,
             |    sum(CASE WHEN ra THEN 1 ELSE 0 END) AS na,
             |    sum(CASE WHEN rb THEN 1 ELSE 0 END) AS nb
             |  FROM rated)
             |SELECT CAST(n AS BIGINT) AS n_docs,
             |  round(CAST(n11 + n00 AS DOUBLE)/CAST(n AS DOUBLE), 6)
             |    + 0.0 AS po,
             |  round(CAST(na*nb + (n-na)*(n-nb) AS DOUBLE) /
             |    CAST(n*n AS DOUBLE), 6) + 0.0 AS pe,
             |  round((CAST(n11 + n00 AS DOUBLE)/CAST(n AS DOUBLE) -
             |      CAST(na*nb + (n-na)*(n-nb) AS DOUBLE) /
             |        CAST(n*n AS DOUBLE)) /
             |    (1.0 - CAST(na*nb + (n-na)*(n-nb) AS DOUBLE) /
             |      CAST(n*n AS DOUBLE)), 6) + 0.0 AS kappa
             |FROM c ORDER BY n_docs""".stripMargin)),

    // Q200 — type-token ratio histogram: lexical diversity per document
    // (distinct tokens / tokens), bucketed by integer math
    // ((types·10) div tokens — no float-boundary flapping), with the
    // micro-averaged ratio per bucket from exact integer sums. The
    // repetition signal that catches template/boilerplate floods at
    // corpus scale. Shape: explode → two-level keyed agg, standard.
    Q("q200_ttr",
      (s, d) => {
        val per = Tables(s, d, "documents")
          .select(col("doc_id"),
            explode(split(lower(col("text")), " ")).as("tok"))
          .groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("types"), sum(col("c")).as("tokens"))
        per.withColumn("bucket", expr("(types * 10) div tokens"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("types").cast(D0)).as("st"),
            sum(col("tokens").cast(D0)).as("sk"))
          .select(col("bucket"), col("n_docs"),
            Exact.round6(col("st").cast(DoubleType) /
              col("sk").cast(DoubleType)).as("micro_ttr"))
          .orderBy(col("bucket"))
      },
      Some("""WITH per AS (
             |  SELECT doc_id, count(*) AS types,
             |    CAST(sum(c) AS BIGINT) AS tokens
             |  FROM (
             |    SELECT doc_id, tok, count(*) AS c FROM (
             |      SELECT doc_id,
             |        unnest(string_split(lower(text), ' ')) AS tok
             |      FROM documents) GROUP BY doc_id, tok)
             |  GROUP BY doc_id)
             |SELECT CAST((types * 10) // tokens AS BIGINT) AS bucket,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  round(CAST(sum(CAST(types AS DECIMAL(38,0))) AS DOUBLE) /
             |    CAST(sum(CAST(tokens AS DECIMAL(38,0))) AS DOUBLE), 6)
             |    + 0.0 AS micro_ttr
             |FROM per GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // Q201 — Shannon diversity of part types within each brand: entropy
    // in bits over the type distribution — the assortment-concentration
    // dual of q166's HHI (entropy rewards the long tail HHI ignores).
    // Per-row -p·log2 p terms accumulate in DECIMAL(38,18) so the
    // per-brand sum is partition-order-independent.
    Q("q201_diversity",
      (s, d) => {
        val pt = Tables(s, d, "part")
          .groupBy(col("p_brand"), col("p_type"))
          .agg(count(lit(1)).as("c"))
        val tot = pt.groupBy(col("p_brand"))
          .agg(sum(col("c")).as("t"), count(lit(1)).as("n_types"))
        val p = col("c").cast(DoubleType) / col("t").cast(DoubleType)
        pt.join(tot, "p_brand")
          .groupBy(col("p_brand"), col("n_types"))
          .agg(sum((-p * log2(p)).cast(DTerm)).as("h"))
          .select(col("p_brand"), col("n_types"),
            Exact.round6(col("h").cast(DoubleType)).as("entropy_bits"))
          .orderBy(col("p_brand"))
      },
      Some("""WITH pt AS (
             |  SELECT p_brand, p_type, count(*) AS c
             |  FROM part GROUP BY 1, 2),
             |tot AS (
             |  SELECT p_brand, CAST(sum(c) AS BIGINT) AS t,
             |    count(*) AS n_types
             |  FROM pt GROUP BY p_brand)
             |SELECT pt.p_brand, CAST(n_types AS BIGINT) AS n_types,
             |  round(CAST(sum(CAST(
             |      -(CAST(c AS DOUBLE)/CAST(t AS DOUBLE)) *
             |        log2(CAST(c AS DOUBLE)/CAST(t AS DOUBLE))
             |      AS DECIMAL(38,18))) AS DOUBLE), 6) + 0.0
             |    AS entropy_bits
             |FROM pt JOIN tot ON pt.p_brand = tot.p_brand
             |GROUP BY pt.p_brand, n_types
             |ORDER BY pt.p_brand""".stripMargin)),

    // Q202 — sessionized bounce rate per day: share of 30-minute-gap
    // sessions containing exactly one event, by session start date — the
    // engagement-quality headline over q37's sessionization. Gap compare
    // runs in exact epoch MICROseconds (unix_micros vs epoch_us — a
    // seconds-truncated compare would misclassify sub-second boundary
    // gaps differently per engine). All windows are user-partitioned;
    // no global window anywhere.
    Q("q202_bounce",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val sess = Tables(s, d, "events")
          .withColumn("prev", lag(col("ts"), 1).over(w))
          .withColumn("new_sess",
            when(col("prev").isNull, 1L)
              .when(unix_micros(col("ts")) - unix_micros(col("prev")) >
                1800L * 1000000L, 1L)
              .otherwise(0L))
          .withColumn("sess", sum(col("new_sess")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("sess"))
          .agg(count(lit(1)).as("n_ev"), min(to_date(col("ts"))).as("day"))
        sess.groupBy(col("day"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("n_ev") === 1, 1L).otherwise(0L)).as("n_bounces"))
          .withColumn("bounce_rate",
            Exact.round6(col("n_bounces").cast(DoubleType) /
              col("n_sessions").cast(DoubleType)))
          .orderBy(col("day"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, ts, event_id,
             |    lag(ts) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prev
             |  FROM events),
             |m AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN prev IS NULL
             |        OR epoch_us(ts) - epoch_us(prev) > 1800000000
             |      THEN 1 ELSE 0 END AS new_sess
             |  FROM e),
             |s AS (
             |  SELECT user_id, ts,
             |    sum(new_sess) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS sess
             |  FROM m),
             |per AS (
             |  SELECT user_id, sess, count(*) AS n_ev,
             |    min(CAST(ts AS DATE)) AS day
             |  FROM s GROUP BY user_id, sess)
             |SELECT day, CAST(count(*) AS BIGINT) AS n_sessions,
             |  CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_bounces,
             |  round(CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END)
             |      AS DOUBLE) / count(*), 6) + 0.0 AS bounce_rate
             |FROM per GROUP BY day ORDER BY day""".stripMargin))
  )
}
