package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-9 wave 32 (SURVEY.md §2 B.10b): sketch audits and
  * information-theoretic series/corpus keys — a deterministic Bloom
  * filter false-positive audit (m=4096 bits, k=3 arithmetic hashes,
  * stated), KMV (k=64 minimum hash values) distinct estimation vs
  * truth per type, transfer entropy click→purchase on the daily
  * up/down symbolization, the inter-event burstiness coefficient
  * B=(σ−μ)/(σ+μ), Kendall's W concordance of the 5 types ranking
  * days (tie-corrected, doubled-midrank grid), and an interpolated
  * Kneser-Ney bigram LM (D=3/4) self-perplexity audit.
  *
  * Hashes are plain modular arithmetic (no engine hash functions), so
  * both engines compute identical values; log terms snap once to the
  * 1e6/1e9 grid before any cross-row sum. Scale: bit sets are ≤ m
  * rows (broadcastable), KMV keeps k values per type, the LM rollup
  * is per-bigram-type — never per-token — and everything else rides
  * the bounded day grid.
  */
object StatsR9zf {

  import DailyGrid.wp

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Bloom FPR audit: members = purchase event_ids, probes = click
    // event_ids (disjoint by construction); h_j(x) = (x·p_j + q_j)
    // mod P mod m with P=2^31−1, m=4096, j<3 (stated constants). A
    // probe is positive iff all 3 bits are set. Measured FPR vs the
    // (1−e^{−kn/m})^k approximation.
    "q_bloom_fpr" -> ((s, d) => {
      val ev = Tables.events(s, d).select("event_id", "event_type")
      val js = array(lit(0), lit(1), lit(2))
      // product reduced mod 2^63 in DECIMAL space: id·C for ids above
      // ~3.5e9 overflows BIGINT (ANSI Spark throws, DuckDB raises) —
      // both engines take (id·C + q) mod 2^63 exactly (DECIMAL here,
      // HUGEINT in the oracle); identity for non-overflowing ids
      def h = expr(
        """CAST(pmod(CAST(event_id AS DECIMAL(38,0))
          |    * (CASE j WHEN 0 THEN 2654435761
          |      WHEN 1 THEN 2246822519 ELSE 3266489917 END)
          |    + (CASE j WHEN 0 THEN 1 WHEN 1 THEN 7 ELSE 13 END),
          |  9223372036854775808) AS BIGINT)
          |  % 2147483647 % 4096""".stripMargin)
      val bits = ev.filter(col("event_type") === "purchase")
        .withColumn("j", explode(js)).withColumn("h", h)
        .select("j", "h").distinct()
        .localCheckpoint(eager = true)
      val nMem = ev.filter(col("event_type") === "purchase")
        .agg(count(lit(1)).as("n_members"))
      val probes = ev.filter(col("event_type") === "click")
        .withColumn("j", explode(js)).withColumn("h", h)
      val pos = probes.join(broadcast(bits), Seq("j", "h"))
        .groupBy("event_id").agg(count(lit(1)).as("hits"))
        .filter(col("hits") === 3)
        .agg(count(lit(1)).as("n_pos"))
      val nPr = ev.filter(col("event_type") === "click")
        .agg(count(lit(1)).as("n_probes"))
      val nBits = bits.agg(count(lit(1)).as("n_bits_set"))
      nMem.crossJoin(pos).crossJoin(nPr).crossJoin(nBits)
        .select(col("n_members"), col("n_probes"), col("n_bits_set"),
          round(col("n_pos").cast("double") / col("n_probes"), 6)
            .as("fpr_measured"),
          round(pow(lit(1.0) - exp(lit(-3.0) * col("n_members") / 4096),
            3.0), 6).as("fpr_theoretical"))
    }),

    // KMV distinct estimate per type over user_ids: h(u) =
    // (u·2654435761) mod 2^32, D̂ = (k−1)·2^32/h_(k) at k=64, exact
    // distinct-hash count when fewer than k survive (stated).
    "q_kmv_distinct" -> ((s, d) => {
      val hv = Tables.events(s, d)
        .select(col("event_type"),
          // mod-2^63 reduction in DECIMAL space (see q_bloom_fpr note)
          expr("CAST(pmod(CAST(user_id AS DECIMAL(38,0)) * 2654435761," +
            " 9223372036854775808) AS BIGINT) % 4294967296").as("h"))
        .distinct()
      val w = Window.partitionBy("event_type").orderBy("h")
      val ranked = hv
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("nh", count(lit(1)).over(wp))
      val tru = Tables.events(s, d)
        .groupBy("event_type")
        .agg(countDistinct("user_id").as("true_distinct"))
      ranked.filter((col("nh") >= 64 && col("rk") === 64)
          || (col("nh") < 64 && col("rk") === col("nh")))
        .select(col("event_type"),
          when(col("nh") >= 64,
            lit(63.0) * 4294967296.0 / col("h"))
            .otherwise(col("nh").cast("double")).as("est"))
        .join(tru, "event_type")
        .select(col("event_type"), col("true_distinct"),
          round(col("est"), 4).as("kmv_estimate"),
          round(abs(col("est") - col("true_distinct"))
            / col("true_distinct"), 6).as("rel_err"))
        .orderBy("event_type")
    }),

    // Transfer entropy click→purchase: daily counts, up-symbols
    // a=1{c_t>c_{t−1}}, b likewise for purchases; TE = Σ over the 8
    // (b⁺,b,a) triples of (c₃/N)·ln(c₃·c_b/(c_ba·c_bb)), each triple
    // term snapped to 1e9 (stated).
    "q_transfer_entropy" -> ((s, d) => {
      // bounded grain: one row per day
      val wd = Window.orderBy("d")
      val day = DailyGrid.mean(s, d)
        .groupBy("d")
        .agg(sum(when(col("event_type") === "click", col("cnt")).otherwise(0L))
            .as("c"),
          sum(when(col("event_type") === "purchase", col("cnt")).otherwise(0L))
            .as("p"))
        .withColumn("a", (col("c") > lag("c", 1).over(wd)).cast("long"))
        .withColumn("b", (col("p") > lag("p", 1).over(wd)).cast("long"))
        .filter(col("a").isNotNull && col("b").isNotNull)
        .withColumn("b1", lead("b", 1).over(wd))
        .filter(col("b1").isNotNull)
        .localCheckpoint(eager = true)
      val tri = day.groupBy("b1", "b", "a").agg(count(lit(1)).as("c3"))
      val cba = day.groupBy("b", "a").agg(count(lit(1)).as("c_ba"))
      val cbb = day.groupBy("b1", "b").agg(count(lit(1)).as("c_bb"))
      val cb = day.groupBy("b").agg(count(lit(1)).as("c_b"))
      tri.join(cba, Seq("b", "a")).join(cbb, Seq("b1", "b"))
        .join(cb, Seq("b"))
        .withColumn("term_u",
          round(col("c3") * log(col("c3").cast("double") * col("c_b")
            / (col("c_ba").cast("double") * col("c_bb"))) * 1e9)
            .cast("long"))
        .agg(sum("c3").as("n_transitions"), sum("term_u").as("st"))
        .select(col("n_transitions"),
          round(col("st") / 1e9 / col("n_transitions"), 6)
            .as("te_click_to_purchase"))
    }),

    // Burstiness per type: consecutive inter-event µs gaps (ts,
    // event_id order), B = (σ−μ)/(σ+μ) with population σ from exact
    // sums (Σg² in DECIMAL(38,0)/HUGEINT).
    "q_interevent_burstiness" -> ((s, d) => {
      val w = Window.partitionBy("event_type")
        .orderBy("tu", "event_id")
      val g = Tables.events(s, d)
        .select(col("event_type"), unix_micros(col("ts")).as("tu"),
          col("event_id"))
        .withColumn("pt", lag("tu", 1).over(w))
        .filter(col("pt").isNotNull)
        .select(col("event_type"), (col("tu") - col("pt")).as("g"))
      g.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("g").as("sg"),
          sum(col("g").cast("decimal(38,0)") * col("g")).as("sgg"))
        .withColumn("mu", col("sg").cast("double") / col("n"))
        .withColumn("sd", sqrt(col("sgg").cast("double") / col("n")
          - col("mu") * col("mu")))
        .filter(col("sd") + col("mu") > 0)
        .select(col("event_type"), col("n").as("n_gaps"),
          round(col("mu") / 1e6, 6).as("mean_gap_s"),
          round((col("sd") - col("mu")) / (col("sd") + col("mu")), 6)
            .as("burstiness"))
        .orderBy("event_type")
    }),

    // Kendall's W: the 5 types rank the 30 days by daily milli-mean;
    // doubled midranks r2 = 2·(#smaller)+ties+1 per type (the
    // kruskal grid), day totals R2, tie-corrected
    // W = (3·(n·ΣR2²−(ΣR2)²)/n) / (m²(n³−n) − m·ΣT).
    "q_kendall_w" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d)
        .select(col("event_type"), col("d"), col("y"))
      val wv = Window.partitionBy("event_type").orderBy("y")
      val vb = dm.groupBy("event_type", "y")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum("cnt").over(wv
          .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("r2", lit(2L) * (col("cum") - col("cnt"))
          + col("cnt") + 1L)
      val m = dm.select("event_type").distinct().count()
      val dayTot = dm.join(vb.select("event_type", "y", "r2"),
          Seq("event_type", "y"))
        .groupBy("d")
        .agg(count(lit(1)).as("nt"), sum("r2").as("rr2"))
        .filter(col("nt") === m)
      val ties = vb.groupBy("event_type")
        .agg(sum(col("cnt") * col("cnt") * col("cnt") - col("cnt"))
          .as("tj"))
        .agg(sum("tj").as("t3"))
      dayTot.agg(count(lit(1)).as("n"), sum("rr2").as("sr"),
          sum(col("rr2") * col("rr2")).as("srr"))
        .crossJoin(broadcast(ties))
        .select(col("n").as("n_days"), lit(m).as("m_judges"),
          round((lit(3.0) * (col("n") * col("srr") - col("sr") * col("sr"))
              / col("n"))
            / (lit(m * m).cast("double")
              * (col("n").cast("double") * col("n") * col("n") - col("n"))
              - lit(m) * col("t3")), 6).as("kendall_w"))
    }),

    // Interpolated Kneser-Ney bigram self-perplexity (D = 3/4,
    // stated; train = eval, an LM-quality corpus audit): P(w|v) =
    // (c(vw)−D)/c(v) + (D·N1+(v·)/c(v))·N1+(·w)/N1+(··), per-bigram-
    // type term c·ln P snapped to 1e6, PPL = exp(−Σ/N).
    "q_kneser_ney" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos"), col("col").as("w"))
      val big = toks.alias("a").join(toks.alias("b"),
          col("a.doc_id") === col("b.doc_id")
            && col("b.pos") === col("a.pos") + 1)
        .select(col("a.w").as("v"), col("b.w").as("w"))
      val cvw = big.groupBy("v", "w").agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = true)
      val cv = cvw.groupBy("v").agg(sum("c").as("cvx"),
        count(lit(1)).as("n1v"))
      val n1w = cvw.groupBy("w").agg(count(lit(1)).as("n1w"))
      val n11 = cvw.agg(count(lit(1)).as("n11"),
        sum("c").as("n_big"))
      cvw.join(cv, "v").join(n1w, "w").crossJoin(broadcast(n11))
        .withColumn("p",
          (col("c") - lit(0.75)) / col("cvx")
            + lit(0.75) * col("n1v") / col("cvx")
              * col("n1w") / col("n11"))
        .withColumn("term_u",
          round(col("c") * log(col("p")) * 1e6).cast("long"))
        .agg(max("n_big").as("n_bigrams"), max("n11").as("n_types"),
          sum("term_u").as("st"))
        .select(col("n_bigrams"), col("n_types"),
          round(exp(-(col("st") / 1e6) / col("n_bigrams")), 4)
            .as("ppl_kn"))
    })
  )

  val oracle: Map[String, String] = Map(
    // identical modular hashes and 3-bit membership
    "q_bloom_fpr" ->
      """WITH js AS (SELECT UNNEST([0, 1, 2]) AS j),
        |mh AS (
        |  SELECT DISTINCT j,
        |    ((CAST(event_id AS HUGEINT)
        |      * (CASE j WHEN 0 THEN 2654435761
        |        WHEN 1 THEN 2246822519 ELSE 3266489917 END)
        |      + (CASE j WHEN 0 THEN 1 WHEN 1 THEN 7 ELSE 13 END))
        |      % 9223372036854775808)
        |      % 2147483647 % 4096 AS h
        |  FROM events, js WHERE event_type = 'purchase'),
        |pr AS (
        |  SELECT event_id, j,
        |    ((CAST(event_id AS HUGEINT)
        |      * (CASE j WHEN 0 THEN 2654435761
        |        WHEN 1 THEN 2246822519 ELSE 3266489917 END)
        |      + (CASE j WHEN 0 THEN 1 WHEN 1 THEN 7 ELSE 13 END))
        |      % 9223372036854775808)
        |      % 2147483647 % 4096 AS h
        |  FROM events, js WHERE event_type = 'click'),
        |pos AS (
        |  SELECT pr.event_id
        |  FROM pr JOIN mh ON pr.j = mh.j AND pr.h = mh.h
        |  GROUP BY 1 HAVING COUNT(*) = 3),
        |ag AS (
        |  SELECT
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM events
        |     WHERE event_type = 'purchase') AS n_members,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM events
        |     WHERE event_type = 'click') AS n_probes,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM mh) AS n_bits_set,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM pos) AS n_pos)
        |SELECT n_members, n_probes, n_bits_set,
        |  ROUND(CAST(n_pos AS DOUBLE) / n_probes, 6) AS fpr_measured,
        |  ROUND(POW(1.0 - EXP(-3.0 * n_members / 4096), 3.0), 6)
        |    AS fpr_theoretical
        |FROM ag""".stripMargin,

    // identical Knuth-hash order statistics
    "q_kmv_distinct" ->
      """WITH hv AS (
        |  SELECT DISTINCT event_type,
        |    ((CAST(user_id AS HUGEINT) * 2654435761)
        |      % 9223372036854775808) % 4294967296 AS h
        |  FROM events),
        |rk AS (
        |  SELECT event_type, h,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY h)
        |      AS BIGINT) AS rk,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS nh
        |  FROM hv),
        |est AS (
        |  SELECT event_type,
        |    CASE WHEN nh >= 64 THEN 63.0 * 4294967296.0 / h
        |      ELSE CAST(nh AS DOUBLE) END AS est
        |  FROM rk
        |  WHERE (nh >= 64 AND rk = 64) OR (nh < 64 AND rk = nh)),
        |tru AS (
        |  SELECT event_type,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS true_distinct
        |  FROM events GROUP BY 1)
        |SELECT est.event_type, tru.true_distinct,
        |  ROUND(est.est, 4) AS kmv_estimate,
        |  ROUND(ABS(est.est - tru.true_distinct) / tru.true_distinct, 6)
        |    AS rel_err
        |FROM est JOIN tru ON est.event_type = tru.event_type
        |ORDER BY est.event_type""".stripMargin,

    // identical 8-triple snapped terms
    "q_transfer_entropy" ->
      """WITH day AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS p
        |  FROM events GROUP BY 1),
        |sym AS (
        |  SELECT d,
        |    CAST(c > lag(c) OVER (ORDER BY d) AS BIGINT) AS a,
        |    CAST(p > lag(p) OVER (ORDER BY d) AS BIGINT) AS b
        |  FROM day),
        |tr AS (
        |  SELECT a, b, lead(b) OVER (ORDER BY d) AS b1
        |  FROM sym WHERE a IS NOT NULL AND b IS NOT NULL),
        |rows_ AS (SELECT * FROM tr WHERE b1 IS NOT NULL),
        |tri AS (SELECT b1, b, a, CAST(COUNT(*) AS BIGINT) AS c3
        |        FROM rows_ GROUP BY 1, 2, 3),
        |cba AS (SELECT b, a, CAST(COUNT(*) AS BIGINT) AS c_ba
        |        FROM rows_ GROUP BY 1, 2),
        |cbb AS (SELECT b1, b, CAST(COUNT(*) AS BIGINT) AS c_bb
        |        FROM rows_ GROUP BY 1, 2),
        |cb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c_b
        |       FROM rows_ GROUP BY 1),
        |terms AS (
        |  SELECT tri.c3,
        |    CAST(ROUND(tri.c3 * LN(CAST(tri.c3 AS DOUBLE) * cb.c_b
        |      / (CAST(cba.c_ba AS DOUBLE) * cbb.c_bb)) * 1e9) AS BIGINT)
        |      AS term_u
        |  FROM tri
        |  JOIN cba ON tri.b = cba.b AND tri.a = cba.a
        |  JOIN cbb ON tri.b1 = cbb.b1 AND tri.b = cbb.b
        |  JOIN cb ON tri.b = cb.b)
        |SELECT CAST(SUM(c3) AS BIGINT) AS n_transitions,
        |  ROUND(SUM(term_u) / 1e9 / SUM(c3), 6)
        |    AS te_click_to_purchase
        |FROM terms""".stripMargin,

    // identical µs gap moments
    "q_interevent_burstiness" ->
      """WITH g AS (
        |  SELECT event_type, tu - pt AS g
        |  FROM (SELECT event_type, epoch_us(ts) AS tu,
        |          lag(epoch_us(ts)) OVER (PARTITION BY event_type
        |            ORDER BY epoch_us(ts), event_id) AS pt
        |        FROM events)
        |  WHERE pt IS NOT NULL),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(g) AS sg, SUM(CAST(g AS HUGEINT) * g) AS sgg
        |  FROM g GROUP BY 1),
        |st AS (
        |  SELECT event_type, n,
        |    CAST(sg AS DOUBLE) / n AS mu,
        |    sqrt(CAST(sgg AS DOUBLE) / n
        |      - (CAST(sg AS DOUBLE) / n) * (CAST(sg AS DOUBLE) / n))
        |      AS sd
        |  FROM ag)
        |SELECT event_type, n AS n_gaps,
        |  ROUND(mu / 1e6, 6) AS mean_gap_s,
        |  ROUND((sd - mu) / (sd + mu), 6) AS burstiness
        |FROM st WHERE sd + mu > 0
        |ORDER BY event_type""".stripMargin,

    // identical doubled-midrank day totals
    "q_kendall_w" ->
      s"""WITH ${DailyGrid.dmCte},
        |vb AS (
        |  SELECT event_type, y, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    SUM(COUNT(*)) OVER (PARTITION BY event_type ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM dm GROUP BY 1, 2),
        |r2t AS (
        |  SELECT event_type, y, 2 * (cum - cnt) + cnt + 1 AS r2
        |  FROM vb),
        |m AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS m
        |      FROM dm),
        |dt AS (
        |  SELECT dm.d, CAST(COUNT(*) AS BIGINT) AS nt,
        |    SUM(r2t.r2) AS rr2
        |  FROM dm JOIN r2t ON dm.event_type = r2t.event_type
        |    AND dm.y = r2t.y
        |  GROUP BY 1),
        |ties AS (
        |  SELECT SUM(cnt * cnt * cnt - cnt) AS t3 FROM vb),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(rr2) AS sr,
        |    SUM(rr2 * rr2) AS srr
        |  FROM dt, m WHERE dt.nt = m.m)
        |SELECT n AS n_days, m.m AS m_judges,
        |  ROUND((3.0 * (n * srr - sr * sr) / n)
        |    / (CAST(m.m * m.m AS DOUBLE)
        |      * (CAST(n AS DOUBLE) * n * n - n) - m.m * ties.t3), 6)
        |    AS kendall_w
        |FROM ag, m, ties""".stripMargin,

    // identical KN interpolation and per-type snapped log-likelihood
    "q_kneser_ney" ->
      """WITH dl AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |b0 AS (
        |  SELECT unnest(list_transform(generate_series(1, len(l) - 1),
        |    i -> l[i] || ' ' || l[i + 1])) AS g
        |  FROM dl),
        |big AS (
        |  SELECT string_split(g, ' ')[1] AS v, string_split(g, ' ')[2]
        |    AS w
        |  FROM b0),
        |cvw AS (SELECT v, w, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM big GROUP BY 1, 2),
        |cv AS (SELECT v, SUM(c) AS cvx, CAST(COUNT(*) AS BIGINT) AS n1v
        |       FROM cvw GROUP BY 1),
        |n1w_ AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n1w
        |         FROM cvw GROUP BY 1),
        |n11 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n11,
        |          SUM(c) AS n_big FROM cvw),
        |terms AS (
        |  SELECT cvw.c,
        |    CAST(ROUND(cvw.c * LN((cvw.c - 0.75) / cv.cvx
        |      + 0.75 * cv.n1v / cv.cvx * n1w_.n1w / n11.n11) * 1e6)
        |      AS BIGINT) AS term_u,
        |    n11.n_big, n11.n11
        |  FROM cvw
        |  JOIN cv ON cvw.v = cv.v
        |  JOIN n1w_ ON cvw.w = n1w_.w
        |  CROSS JOIN n11)
        |SELECT CAST(MAX(n_big) AS BIGINT) AS n_bigrams,
        |  MAX(n11) AS n_types,
        |  ROUND(EXP(-(SUM(term_u) / 1e6) / MAX(n_big)), 4) AS ppl_kn
        |FROM terms""".stripMargin
  )
}
