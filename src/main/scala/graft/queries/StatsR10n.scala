package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Round-10 wave 15 (SURVEY.md §2 B.10/B.10b): fully-oracled n-gram
  * generation metrics (ROUGE-N, smoothed BLEU-2) on the q_rouge_l
  * even/odd doc pairing, Passing-Bablok method-comparison regression,
  * the Dunn post-hoc table after Kruskal-Wallis, and ANOVA effect
  * sizes.
  *
  * House discipline: clipped n-gram counts are exact integer algebra
  * (ROUGE/BLEU precisions = long ratios, one double chain per row);
  * Passing-Bablok medians are value-at-index selections over exact
  * long-ratio slopes; Dunn rides the doubled-midrank value table; the
  * effect sizes assemble from exact centi moments.
  */
object StatsR10n {

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // ROUGE-1/ROUGE-2 with clipped counts on the q_rouge_l pairing
    // (candidate = even doc_id, reference = the next odd doc): per
    // n-gram clip = min(cand count, ref count); P, R, F1 from exact
    // integer sums — the oracle-able complement to the OMIT'd
    // LCS-based q_rouge_l.
    "q_rouge_n" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      def grams(n: Int) =
        if (n == 1) col("toks")
        else expr("transform(sequence(1, size(toks) - 1)," +
          " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))")
      def side(n: Int, even: Boolean, idCol: String, gramCol: String) =
        docs.filter(col("doc_id") % 2 === (if (even) 0 else 1))
          .filter(size(col("toks")) >= n)
          .select((if (even) col("doc_id") else col("doc_id") - 1)
            .as(idCol), explode(grams(n)).as("g"))
          .groupBy(idCol, "g").agg(count(lit(1)).as(gramCol))
      def rouge(n: Int, tag: String) = {
        val cn = side(n, even = true, "a_id", "ca")
        val rf = side(n, even = false, "a_id", "cr")
        cn.join(rf, Seq("a_id", "g"), "full_outer")
          .groupBy("a_id")
          .agg(sum(coalesce(col("ca"), lit(0L))).as(s"tot_c"),
            sum(coalesce(col("cr"), lit(0L))).as(s"tot_r"),
            sum(least(coalesce(col("ca"), lit(0L)),
              coalesce(col("cr"), lit(0L)))).as(s"clip"))
          .filter(col("tot_c") > 0 && col("tot_r") > 0)
          .select(col("a_id"),
            round(col("clip") / col("tot_c").cast("double"), 6)
              .as(s"${tag}_p"),
            round(col("clip") / col("tot_r").cast("double"), 6)
              .as(s"${tag}_r"),
            round(when(col("clip") > 0, lit(2.0) * col("clip")
              / (col("tot_c") + col("tot_r")).cast("double"))
              .otherwise(lit(0.0)), 6).as(s"${tag}_f"))
      }
      rouge(1, "r1").join(rouge(2, "r2"), "a_id")
        .orderBy("a_id")
    }),

    // Smoothed BLEU-2 on the same pairing: clipped unigram/bigram
    // precisions with +1 Lin-Och smoothing on the bigram leg, brevity
    // penalty min(1, exp(1 − len_r/len_c)); bleu = BP·√(p1·p2). All
    // counts exact; exp/sqrt once per row, spelled identically.
    "q_bleu_lite" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      def grams(n: Int) =
        if (n == 1) col("toks")
        else expr("transform(sequence(1, size(toks) - 1)," +
          " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))")
      def side(n: Int, even: Boolean) =
        docs.filter(col("doc_id") % 2 === (if (even) 0 else 1))
          .filter(size(col("toks")) >= n)
          .select((if (even) col("doc_id") else col("doc_id") - 1)
            .as("a_id"), explode(grams(n)).as("g"))
          .groupBy(col("a_id"), col("g"))
          .agg(count(lit(1)).as(if (even) "ca" else "cr"))
      def leg(n: Int, tag: String) =
        side(n, even = true).join(side(n, even = false),
            Seq("a_id", "g"), "full_outer")
          .groupBy("a_id")
          .agg(sum(coalesce(col("ca"), lit(0L))).as(s"${tag}_tot"),
            sum(least(coalesce(col("ca"), lit(0L)),
              coalesce(col("cr"), lit(0L)))).as(s"${tag}_clip"))
      val lens = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("a_id"), size(col("toks")).as("len_c"))
        .join(docs.filter(col("doc_id") % 2 === 1)
          .select((col("doc_id") - 1).as("a_id"),
            size(col("toks")).as("len_r")), "a_id")
      leg(1, "u").join(leg(2, "b"), "a_id").join(lens, "a_id")
        .filter(col("u_tot") > 0 && col("b_tot") > 0)
        .withColumn("p1", col("u_clip") / col("u_tot").cast("double"))
        .withColumn("p2", (col("b_clip") + 1)
          / (col("b_tot") + 1).cast("double"))
        .withColumn("bp", least(lit(1.0),
          exp(lit(1.0) - col("len_r") / col("len_c").cast("double"))))
        .select(col("a_id"), col("len_c"), col("len_r"),
          round(col("p1"), 6).as("p1"),
          round(col("p2"), 6).as("p2_smooth"),
          round(col("bp") * sqrt(col("p1") * col("p2")), 6).as("bleu2"))
        .orderBy("a_id")
    }),

    // Passing-Bablok method-comparison regression per type pair on
    // paired daily milli means: slope = the K-shifted median of all
    // C(n,2) pairwise slopes (slopes of exactly −1 excluded, K =
    // #slopes < −1 — the PB bias correction), intercept = median of
    // y − b·x. Day pairs are the bounded C(|days|,2) grid; medians
    // are value-at-index selections (even n averages the two
    // middles), so ties cannot reorder the VALUE.
    "q_passing_bablok" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d)
        .select(col("event_type"), col("d"), col("y"))
      val paired = dm.select(col("event_type").as("t1"), col("d"),
          col("y").as("x"))
        .join(dm.select(col("event_type").as("t2"), col("d"),
          col("y").as("yy")), "d")
        .filter(col("t1") < col("t2"))
        .localCheckpoint(eager = true) // slope leg + intercept leg
      val slopes = paired.select(col("t1"), col("t2"),
          col("d").as("d1"), col("x").as("x1"), col("yy").as("y1"))
        .join(paired.select(col("t1"), col("t2"), col("d").as("d2"),
          col("x").as("x2"), col("yy").as("y2")), Seq("t1", "t2"))
        .filter(col("d1") < col("d2") && col("x1") =!= col("x2"))
        .select(col("t1"), col("t2"),
          ((col("y2") - col("y1")).cast("double")
            / (col("x2") - col("x1"))).as("sl"))
        .filter(col("sl") =!= -1.0)
      val wsl = Window.partitionBy("t1", "t2").orderBy("sl")
      val ranked = slopes
        .withColumn("i", row_number().over(wsl).cast("long"))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("t1", "t2")))
        .withColumn("k", sum(when(col("sl") < -1.0, 1L).otherwise(0L))
          .over(Window.partitionBy("t1", "t2")))
      val slope = ranked.groupBy("t1", "t2")
        .agg(max("n").as("n_slopes"),
          avg(when(expr("(n % 2 = 1 AND i = (n + 1) div 2 + k)" +
            " OR (n % 2 = 0 AND (i = n div 2 + k" +
            " OR i = n div 2 + 1 + k))"), col("sl"))).as("b"))
      val wic = Window.partitionBy("t1", "t2").orderBy("ic")
      val inter = paired.join(broadcast(slope), Seq("t1", "t2"))
        .select(col("t1"), col("t2"), col("n_slopes"), col("b"),
          (col("yy") - col("b") * col("x")).as("ic"))
        .withColumn("i", row_number().over(wic).cast("long"))
        .withColumn("m", count(lit(1)).over(
          Window.partitionBy("t1", "t2")))
      inter.groupBy("t1", "t2")
        .agg(max("n_slopes").as("n_slopes"),
          round(max("b"), 6).as("slope"),
          round(avg(when(expr("(m % 2 = 1 AND i = (m + 1) div 2)" +
            " OR (m % 2 = 0 AND (i = m div 2 OR i = m div 2 + 1))"),
            col("ic"))) / 1e3, 4).as("intercept"))
        .orderBy("t1", "t2")
    }),

    // Dunn's post-hoc pairwise z after Kruskal-Wallis, on the
    // doubled-midrank value table (the q_kruskal_wallis grid) with
    // the tie-corrected variance: z = (R̄_i − R̄_j) /
    // √((N(N+1)/12 − T/(12(N−1)))(1/n_i + 1/n_j)).
    "q_dunn_test" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("value"))
      val vb = ev.groupBy("value").agg(count(lit(1)).as("cnt"))
        // bounded grain: distinct quantized values (generator grid)
        .withColumn("cum", sum("cnt").over(Window.orderBy("value")
          .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("r2", lit(2L) * (col("cum") - col("cnt"))
          + col("cnt") + 1L)
        .localCheckpoint(eager = true) // group leg + ties leg
      val grp = ev.groupBy("event_type", "value")
        .agg(count(lit(1)).as("ngv"))
        .join(vb.select("value", "r2"), "value")
        .groupBy("event_type")
        .agg(sum("ngv").as("ng"), sum(col("ngv") * col("r2")).as("rr2"))
        .localCheckpoint(eager = true) // two pair legs
      val ties = vb.agg(
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("t3"))
      val tot = grp.agg(sum("ng").as("nn"))
      grp.select(col("event_type").as("t1"), col("ng").as("n1"),
          col("rr2").as("r1"))
        .join(grp.select(col("event_type").as("t2"), col("ng").as("n2"),
          col("rr2").as("r2s")), col("t1") < col("t2"))
        .crossJoin(broadcast(ties)).crossJoin(broadcast(tot))
        .select(col("t1"), col("t2"), col("n1"), col("n2"),
          round(((col("r1") / col("n1").cast("double")
            - col("r2s") / col("n2").cast("double")) / 2.0)
            / sqrt((col("nn").cast("double") * (col("nn") + 1) / 12.0
              - col("t3").cast("double") / (col("nn") - 1) / 12.0)
              * (lit(1.0) / col("n1") + lit(1.0) / col("n2"))), 4)
            .as("z"))
        .orderBy("t1", "t2")
    }),

    // ANOVA effect sizes across types on centi values: η², ε², ω²
    // and Cohen's f from exact centi long moments — "how big", where
    // q_anova's F answers "how sure".
    "q_effect_sizes" -> ((s, d) => {
      val g = Tables.events(s, d)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("vc"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vc").as("m"),
          sum(col("vc") * col("vc")).as("ss"))
      g.agg(count(lit(1)).as("k"), sum("n").as("nn"),
          sum("m").as("tm"), sum("ss").as("tss"),
          sum(col("m").cast("double") * col("m") / col("n")).as("sb"))
        .withColumn("sst", col("tss")
          - col("tm").cast("double") * col("tm") / col("nn"))
        .withColumn("ssb", col("sb")
          - col("tm").cast("double") * col("tm") / col("nn"))
        .withColumn("ssw", col("sst") - col("ssb"))
        .withColumn("msw", col("ssw") / (col("nn") - col("k")))
        .withColumn("eta2", col("ssb") / col("sst"))
        .select(col("k").as("k_groups"), col("nn").as("n"),
          round(col("eta2"), 6).as("eta2"),
          round((col("ssb") - (col("k") - 1) * col("msw"))
            / col("sst"), 6).as("epsilon2"),
          round((col("ssb") - (col("k") - 1) * col("msw"))
            / (col("sst") + col("msw")), 6).as("omega2"),
          round(sqrt(col("eta2") / (lit(1.0) - col("eta2"))), 6)
            .as("cohens_f"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_rouge_n" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |u_c AS (
        |  SELECT doc_id AS a_id, unnest(toks) AS g FROM docs
        |  WHERE doc_id % 2 = 0 AND len(toks) >= 1),
        |u_r AS (
        |  SELECT doc_id - 1 AS a_id, unnest(toks) AS g FROM docs
        |  WHERE doc_id % 2 = 1 AND len(toks) >= 1),
        |b_c AS (
        |  SELECT doc_id AS a_id,
        |    unnest(list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1])) AS g
        |  FROM docs WHERE doc_id % 2 = 0 AND len(toks) >= 2),
        |b_r AS (
        |  SELECT doc_id - 1 AS a_id,
        |    unnest(list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1])) AS g
        |  FROM docs WHERE doc_id % 2 = 1 AND len(toks) >= 2),
        |g1 AS (
        |  SELECT COALESCE(c.a_id, r.a_id) AS a_id,
        |    CAST(SUM(COALESCE(c.ca, 0)) AS BIGINT) AS tot_c,
        |    CAST(SUM(COALESCE(r.cr, 0)) AS BIGINT) AS tot_r,
        |    CAST(SUM(LEAST(COALESCE(c.ca, 0), COALESCE(r.cr, 0)))
        |      AS BIGINT) AS clip
        |  FROM (SELECT a_id, g, COUNT(*) AS ca FROM u_c GROUP BY 1, 2) c
        |  FULL OUTER JOIN
        |    (SELECT a_id, g, COUNT(*) AS cr FROM u_r GROUP BY 1, 2) r
        |    ON c.a_id = r.a_id AND c.g = r.g
        |  GROUP BY 1 HAVING SUM(COALESCE(c.ca, 0)) > 0
        |    AND SUM(COALESCE(r.cr, 0)) > 0),
        |g2 AS (
        |  SELECT COALESCE(c.a_id, r.a_id) AS a_id,
        |    CAST(SUM(COALESCE(c.ca, 0)) AS BIGINT) AS tot_c,
        |    CAST(SUM(COALESCE(r.cr, 0)) AS BIGINT) AS tot_r,
        |    CAST(SUM(LEAST(COALESCE(c.ca, 0), COALESCE(r.cr, 0)))
        |      AS BIGINT) AS clip
        |  FROM (SELECT a_id, g, COUNT(*) AS ca FROM b_c GROUP BY 1, 2) c
        |  FULL OUTER JOIN
        |    (SELECT a_id, g, COUNT(*) AS cr FROM b_r GROUP BY 1, 2) r
        |    ON c.a_id = r.a_id AND c.g = r.g
        |  GROUP BY 1 HAVING SUM(COALESCE(c.ca, 0)) > 0
        |    AND SUM(COALESCE(r.cr, 0)) > 0)
        |SELECT g1.a_id,
        |  ROUND(g1.clip / CAST(g1.tot_c AS DOUBLE), 6) AS r1_p,
        |  ROUND(g1.clip / CAST(g1.tot_r AS DOUBLE), 6) AS r1_r,
        |  ROUND(CASE WHEN g1.clip > 0 THEN 2.0 * g1.clip
        |    / CAST(g1.tot_c + g1.tot_r AS DOUBLE) ELSE 0.0 END, 6)
        |    AS r1_f,
        |  ROUND(g2.clip / CAST(g2.tot_c AS DOUBLE), 6) AS r2_p,
        |  ROUND(g2.clip / CAST(g2.tot_r AS DOUBLE), 6) AS r2_r,
        |  ROUND(CASE WHEN g2.clip > 0 THEN 2.0 * g2.clip
        |    / CAST(g2.tot_c + g2.tot_r AS DOUBLE) ELSE 0.0 END, 6)
        |    AS r2_f
        |FROM g1 JOIN g2 ON g1.a_id = g2.a_id
        |ORDER BY g1.a_id""".stripMargin,

    "q_bleu_lite" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |u_c AS (
        |  SELECT doc_id AS a_id, unnest(toks) AS g FROM docs
        |  WHERE doc_id % 2 = 0 AND len(toks) >= 1),
        |u_r AS (
        |  SELECT doc_id - 1 AS a_id, unnest(toks) AS g FROM docs
        |  WHERE doc_id % 2 = 1 AND len(toks) >= 1),
        |b_c AS (
        |  SELECT doc_id AS a_id,
        |    unnest(list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1])) AS g
        |  FROM docs WHERE doc_id % 2 = 0 AND len(toks) >= 2),
        |b_r AS (
        |  SELECT doc_id - 1 AS a_id,
        |    unnest(list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1])) AS g
        |  FROM docs WHERE doc_id % 2 = 1 AND len(toks) >= 2),
        |u AS (
        |  SELECT COALESCE(c.a_id, r.a_id) AS a_id,
        |    CAST(SUM(COALESCE(c.ca, 0)) AS BIGINT) AS u_tot,
        |    CAST(SUM(LEAST(COALESCE(c.ca, 0), COALESCE(r.cr, 0)))
        |      AS BIGINT) AS u_clip
        |  FROM (SELECT a_id, g, COUNT(*) AS ca FROM u_c GROUP BY 1, 2) c
        |  FULL OUTER JOIN
        |    (SELECT a_id, g, COUNT(*) AS cr FROM u_r GROUP BY 1, 2) r
        |    ON c.a_id = r.a_id AND c.g = r.g
        |  GROUP BY 1),
        |b AS (
        |  SELECT COALESCE(c.a_id, r.a_id) AS a_id,
        |    CAST(SUM(COALESCE(c.ca, 0)) AS BIGINT) AS b_tot,
        |    CAST(SUM(LEAST(COALESCE(c.ca, 0), COALESCE(r.cr, 0)))
        |      AS BIGINT) AS b_clip
        |  FROM (SELECT a_id, g, COUNT(*) AS ca FROM b_c GROUP BY 1, 2) c
        |  FULL OUTER JOIN
        |    (SELECT a_id, g, COUNT(*) AS cr FROM b_r GROUP BY 1, 2) r
        |    ON c.a_id = r.a_id AND c.g = r.g
        |  GROUP BY 1),
        |lens AS (
        |  SELECT c.doc_id AS a_id,
        |    CAST(len(c.toks) AS INT) AS len_c,
        |    CAST(len(r.toks) AS INT) AS len_r
        |  FROM docs c JOIN docs r ON r.doc_id = c.doc_id + 1
        |  WHERE c.doc_id % 2 = 0),
        |f AS (
        |  SELECT u.a_id, len_c, len_r,
        |    u_clip / CAST(u_tot AS DOUBLE) AS p1,
        |    (b_clip + 1) / CAST(b_tot + 1 AS DOUBLE) AS p2,
        |    LEAST(1.0, exp(1.0 - len_r / CAST(len_c AS DOUBLE))) AS bp
        |  FROM u JOIN b ON u.a_id = b.a_id
        |  JOIN lens ON lens.a_id = u.a_id
        |  WHERE u_tot > 0 AND b_tot > 0)
        |SELECT a_id, len_c, len_r,
        |  ROUND(p1, 6) AS p1, ROUND(p2, 6) AS p2_smooth,
        |  ROUND(bp * sqrt(p1 * p2), 6) AS bleu2
        |FROM f ORDER BY a_id""".stripMargin,

    "q_passing_bablok" ->
      s"""WITH ${DailyGrid.dmCte},
        |paired AS (
        |  SELECT a.event_type AS t1, b.event_type AS t2, a.d,
        |    a.y AS x, b.y AS yy
        |  FROM dm a JOIN dm b ON a.d = b.d
        |  WHERE a.event_type < b.event_type),
        |slopes AS (
        |  SELECT p.t1, p.t2,
        |    CAST(q.yy - p.yy AS DOUBLE) / (q.x - p.x) AS sl
        |  FROM paired p JOIN paired q
        |    ON p.t1 = q.t1 AND p.t2 = q.t2 AND p.d < q.d
        |  WHERE p.x <> q.x),
        |fs AS (SELECT * FROM slopes WHERE sl <> -1.0),
        |ranked AS (
        |  SELECT t1, t2, sl,
        |    CAST(row_number() OVER (PARTITION BY t1, t2 ORDER BY sl)
        |      AS BIGINT) AS i,
        |    COUNT(*) OVER (PARTITION BY t1, t2) AS n,
        |    SUM(CASE WHEN sl < -1.0 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY t1, t2) AS k
        |  FROM fs),
        |slope AS (
        |  SELECT t1, t2, MAX(n) AS n_slopes,
        |    AVG(CASE WHEN (n % 2 = 1 AND i = (n + 1) // 2 + k)
        |      OR (n % 2 = 0 AND (i = n // 2 + k OR i = n // 2 + 1 + k))
        |      THEN sl END) AS b
        |  FROM ranked GROUP BY 1, 2),
        |ics AS (
        |  SELECT p.t1, p.t2, s.n_slopes, s.b, p.yy - s.b * p.x AS ic
        |  FROM paired p JOIN slope s ON p.t1 = s.t1 AND p.t2 = s.t2),
        |rics AS (
        |  SELECT t1, t2, n_slopes, b, ic,
        |    CAST(row_number() OVER (PARTITION BY t1, t2 ORDER BY ic)
        |      AS BIGINT) AS i,
        |    COUNT(*) OVER (PARTITION BY t1, t2) AS m
        |  FROM ics)
        |SELECT t1, t2, MAX(n_slopes) AS n_slopes,
        |  ROUND(MAX(b), 6) AS slope,
        |  ROUND(AVG(CASE WHEN (m % 2 = 1 AND i = (m + 1) // 2)
        |    OR (m % 2 = 0 AND (i = m // 2 OR i = m // 2 + 1))
        |    THEN ic END) / 1e3, 4) AS intercept
        |FROM rics GROUP BY 1, 2 ORDER BY t1, t2""".stripMargin,

    "q_dunn_test" ->
      """WITH vb AS (
        |  SELECT value, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    SUM(COUNT(*)) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM events GROUP BY 1),
        |vr AS (
        |  SELECT value, 2 * (cum - cnt) + cnt + 1 AS r2 FROM vb),
        |grp AS (
        |  SELECT event_type, CAST(SUM(ngv) AS BIGINT) AS ng,
        |    CAST(SUM(ngv * r2) AS BIGINT) AS rr2
        |  FROM (SELECT event_type, value, COUNT(*) AS ngv
        |        FROM events GROUP BY 1, 2) gv
        |  JOIN vr USING (value) GROUP BY 1),
        |ties AS (
        |  SELECT CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS t3
        |  FROM vb),
        |tot AS (SELECT CAST(SUM(ng) AS BIGINT) AS nn FROM grp)
        |SELECT a.event_type AS t1, b.event_type AS t2,
        |  a.ng AS n1, b.ng AS n2,
        |  ROUND(((a.rr2 / CAST(a.ng AS DOUBLE)
        |    - b.rr2 / CAST(b.ng AS DOUBLE)) / 2.0)
        |    / sqrt((CAST(nn AS DOUBLE) * (nn + 1) / 12.0
        |      - CAST(t3 AS DOUBLE) / (nn - 1) / 12.0)
        |      * (1.0 / a.ng + 1.0 / b.ng)), 4) AS z
        |FROM grp a JOIN grp b ON a.event_type < b.event_type,
        |  ties, tot
        |ORDER BY t1, t2""".stripMargin,

    "q_effect_sizes" ->
      """WITH g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |      AS m,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)
        |      * CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS ss
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(n) AS BIGINT) AS nn,
        |    CAST(SUM(m) AS BIGINT) AS tm,
        |    CAST(SUM(ss) AS BIGINT) AS tss,
        |    SUM(CAST(m AS DOUBLE) * m / n) AS sb
        |  FROM g),
        |f AS (
        |  SELECT k, nn,
        |    tss - CAST(tm AS DOUBLE) * tm / nn AS sst,
        |    sb - CAST(tm AS DOUBLE) * tm / nn AS ssb
        |  FROM t),
        |f2 AS (
        |  SELECT k, nn, sst, ssb, (sst - ssb) / (nn - k) AS msw,
        |    ssb / sst AS eta2
        |  FROM f)
        |SELECT k AS k_groups, nn AS n,
        |  ROUND(eta2, 6) AS eta2,
        |  ROUND((ssb - (k - 1) * msw) / sst, 6) AS epsilon2,
        |  ROUND((ssb - (k - 1) * msw) / (sst + msw), 6) AS omega2,
        |  ROUND(sqrt(eta2 / (1.0 - eta2)), 6) AS cohens_f
        |FROM f2""".stripMargin
  )
}
