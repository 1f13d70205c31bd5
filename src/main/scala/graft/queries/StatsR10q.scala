package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Round-10 wave 18 (SURVEY.md §2 B.10/B.10b): per-label semantic
  * diversity via the centroid identity, detrended fluctuation
  * analysis, multiwindow SLO burn-rate alerts, and greedy k-center
  * coreset selection.
  *
  * Scale notes: q_semantic_diversity uses E‖x−y‖² =
  * 2n/(n−1)·(m₂ − ‖c‖²) — ONE pass, dim-bounded state, NO pair join
  * (the textbook reason to prefer the identity at 10⁹ vectors);
  * q_dfa's profile is an exact integer construction (n·cum − k·M);
  * q_kcenter_greedy unrolls k=4 broadcast-argmax steps (the
  * q_mmr_select precedent).
  */
object StatsR10q {

  import DailyGrid.{wo, wp}

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Mean pairwise squared Euclidean distance per label WITHOUT the
    // pair join: E‖x−y‖² over i≠j = 2n/(n−1)·(mean‖x‖² − ‖centroid‖²).
    // Per-dim sums + per-row norm² accumulate in one partial agg;
    // the intra-class spread number SemDeDup-style pruning watches.
    "q_semantic_diversity" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val byDim = e.select(col("label"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(sum(col("x").cast("double")).as("sd"),
          count(lit(1)).as("n"))
        .groupBy("label")
        .agg(max("n").as("n"),
          sum((col("sd") / col("n")) * (col("sd") / col("n")))
            .as("c2"))
      val norms = e.select(col("label"),
          expr("aggregate(embedding, CAST(0.0 AS DOUBLE)," +
            " (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
            .as("n2"))
        .groupBy("label").agg(sum("n2").as("sn2"))
      byDim.join(norms, "label")
        .withColumn("m2", col("sn2") / col("n"))
        .select(col("label"), col("n").as("n_vecs"),
          round(col("m2"), 6).as("mean_norm2"),
          round(col("c2"), 6).as("centroid_norm2"),
          round(lit(2.0) * col("n") / (col("n") - 1)
            * (col("m2") - col("c2")), 6).as("mean_sq_dist"))
        .orderBy("label")
    }),

    // Detrended fluctuation analysis per type on daily milli means:
    // integer profile p_k = n·cum_k − k·M (exact longs), per-box OLS
    // detrend at scales s ∈ {4, 8, 16} via the closed residual form
    // SSR = Syy − Sxy²/Sxx, F(s) = √(mean box residual variance),
    // α = the 3-point log-log slope — the long-memory exponent
    // (α≈0.5 white, α≈1 1/f).
    "q_dfa" -> ((s, d) => {
      val base = DailyGrid.mean(s, d)
        .select(col("event_type"), col("d"), col("y"), col("i").as("k"))
        .withColumn("n", count(lit(1)).over(wp))
        .withColumn("m", sum("y").over(wp))
        .withColumn("cum", sum("y").over(
          wo.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("p", col("n") * col("cum") - col("k") * col("m"))
        .localCheckpoint(eager = true) // three scale legs
      def fAt(sc: Int): DataFrame = {
        val sL = sc.toLong
        base
          .withColumn("box", expr(s"(k - 1) div $sL"))
          .filter(col("box") < expr(s"n div $sL"))
          .withColumn("j", ((col("k") - 1) % sL) + 1)
          .groupBy("event_type", "box")
          .agg(count(lit(1)).as("cnt"),
            sum(col("p").cast("double")).as("sp"),
            sum(col("p").cast("double") * col("p")).as("spp"),
            sum(col("j").cast("double") * col("p")).as("sjp"))
          .withColumn("sxx", lit(sL * (sL * sL - 1) / 12.0))
          .withColumn("sxy", col("sjp")
            - lit((sL + 1) / 2.0) * col("sp"))
          .withColumn("syy", col("spp")
            - col("sp") * col("sp") / lit(sL.toDouble))
          .withColumn("rv", (col("syy")
            - col("sxy") * col("sxy") / col("sxx")) / lit(sL.toDouble))
          .groupBy("event_type")
          .agg(avg("rv").as(s"v$sc"))
      }
      val nPer = base.groupBy("event_type").agg(max("n").as("n"))
      val joined = fAt(4).join(fAt(8), "event_type")
        .join(fAt(16), "event_type").join(nPer, "event_type")
        .withColumn("f4", sqrt(greatest(col("v4"), lit(0.0)))
          / col("n"))
        .withColumn("f8", sqrt(greatest(col("v8"), lit(0.0)))
          / col("n"))
        .withColumn("f16", sqrt(greatest(col("v16"), lit(0.0)))
          / col("n"))
      // 3-point log-log OLS slope with x = ln{4,8,16} (x̄ = ln 8,
      // Σ(x−x̄)² = 2 ln²2): α = (ln f16 − ln f4) / (2 ln 2)
      joined.select(col("event_type"), col("n").as("n_days"),
          round(col("f4") / 1e3, 6).as("f4"),
          round(col("f8") / 1e3, 6).as("f8"),
          round(col("f16") / 1e3, 6).as("f16"),
          round((log(col("f16")) - log(col("f4")))
            / (lit(2.0) * log(lit(2.0))), 4).as("alpha"))
        .orderBy("event_type")
    }),

    // Multiwindow SLO burn-rate alerts (the SRE-workbook pager rule):
    // hourly error rates against a 1% error budget; fast-burn page =
    // 1h AND 6h burn both over 14.4x, slow-burn ticket = 6h AND 24h
    // both over 6x. Exact counts; two trailing RANGE windows keyed on
    // the hour EPOCH (r10 ADVICE) — an hour with zero events is
    // simply absent and contributes 0, so the 6h/24h windows span
    // true wall-clock hours even on sparse data (ROWS frames would
    // silently stitch non-adjacent hours together). Global window at
    // bounded grain: one row per hour.
    "q_slo_burn" -> ((s, d) => {
      val wo6 = Window.orderBy("he").rangeBetween(-5, 0)
      val wo24 = Window.orderBy("he").rangeBetween(-23, 0)
      val hourly = Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("x"))
      hourly
        // truncated-hour seconds are exactly divisible by 3600
        .withColumn("he", (unix_timestamp(col("h")) / 3600).cast("long"))
        .withColumn("n6", sum("n").over(wo6))
        .withColumn("x6", sum("x").over(wo6))
        .withColumn("n24", sum("n").over(wo24))
        .withColumn("x24", sum("x").over(wo24))
        .withColumn("b1", col("x").cast("double") / col("n") / 0.01)
        .withColumn("b6", col("x6").cast("double") / col("n6") / 0.01)
        .withColumn("b24",
          col("x24").cast("double") / col("n24") / 0.01)
        .select(col("h").cast("timestamp_ntz").as("h"), col("n"),
          col("x"),
          round(col("b1"), 4).as("burn_1h"),
          round(col("b6"), 4).as("burn_6h"),
          round(col("b24"), 4).as("burn_24h"),
          when(col("b1") > 14.4 && col("b6") > 14.4, 1L).otherwise(0L)
            .as("page"),
          when(col("b6") > 6.0 && col("b24") > 6.0, 1L).otherwise(0L)
            .as("ticket"))
        .orderBy("h")
    }),

    // Greedy k-center coreset (k = 4, seeded at vec_id 0): each step
    // adds the point FARTHEST (min cosine to the chosen set —
    // max-min, tie lower id) — the classical 2-approximation, k
    // broadcast-argmax passes unrolled like q_mmr_select; plus the
    // final coverage radius max_v min_c (1 − cos).
    "q_kcenter_greedy" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .localCheckpoint(eager = true)
      // each pick is a 1-row broadcast frame; the whole greedy stays
      // IN-PLAN (no driver collect — the q_mmr_select discipline)
      val p1 = e.filter(col("vec_id") === 0)
        .select(col("vec_id").as("id1"), col("embedding").as("em1"))
      def argmin(cand: DataFrame, mc: Column, tag: Int): DataFrame =
        cand.withColumn("mc", mc)
          .orderBy(col("mc").asc, col("vec_id").asc).limit(1)
          .select(col("vec_id").as(s"id$tag"),
            col("embedding").as(s"em$tag"))
      val c1 = e.crossJoin(broadcast(p1)).filter(col("vec_id") =!= col("id1"))
      val p2 = argmin(c1, expr("cosine_sim(embedding, em1)"), 2)
        .localCheckpoint(eager = true)
      val c2 = c1.crossJoin(broadcast(p2)).filter(col("vec_id") =!= col("id2"))
      val p3 = argmin(c2, least(expr("cosine_sim(embedding, em1)"),
        expr("cosine_sim(embedding, em2)")), 3)
        .localCheckpoint(eager = true)
      val c3 = c2.crossJoin(broadcast(p3)).filter(col("vec_id") =!= col("id3"))
      val p4 = argmin(c3, least(expr("cosine_sim(embedding, em1)"),
        expr("cosine_sim(embedding, em2)"),
        expr("cosine_sim(embedding, em3)")), 4)
        .localCheckpoint(eager = true)
      val radius = c3.crossJoin(broadcast(p4))
        .filter(col("vec_id") =!= col("id4"))
        .select(least(expr("cosine_sim(embedding, em1)"),
          expr("cosine_sim(embedding, em2)"),
          expr("cosine_sim(embedding, em3)"),
          expr("cosine_sim(embedding, em4)")).as("mc"))
        .agg((lit(1.0) - min("mc")).as("radius"))
      p1.select(lit(1L).as("pick"), col("id1").as("vec_id"))
        .unionAll(p2.select(lit(2L).as("pick"), col("id2").as("vec_id")))
        .unionAll(p3.select(lit(3L).as("pick"), col("id3").as("vec_id")))
        .unionAll(p4.select(lit(4L).as("pick"), col("id4").as("vec_id")))
        .crossJoin(broadcast(radius))
        .select(col("pick"), col("vec_id"),
          round(col("radius"), 6).as("coverage_radius"))
        .orderBy("pick")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_semantic_diversity" ->
      """WITH dims AS (
        |  SELECT label,
        |    generate_subscripts(embedding, 1) - 1 AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |byd AS (
        |  SELECT label, dim, SUM(x) AS sd,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM dims GROUP BY 1, 2),
        |cent AS (
        |  SELECT label, MAX(n) AS n,
        |    SUM((sd / n) * (sd / n)) AS c2
        |  FROM byd GROUP BY 1),
        |norms AS (
        |  SELECT label,
        |    SUM(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS sn2
        |  FROM embeddings GROUP BY 1),
        |f AS (
        |  SELECT cent.label, n, sn2 / n AS m2, c2
        |  FROM cent JOIN norms ON cent.label = norms.label)
        |SELECT label, n AS n_vecs,
        |  ROUND(m2, 6) AS mean_norm2,
        |  ROUND(c2, 6) AS centroid_norm2,
        |  ROUND(2.0 * n / (n - 1) * (m2 - c2), 6) AS mean_sq_dist
        |FROM f ORDER BY label""".stripMargin,

    "q_dfa" ->
      s"""WITH ${DailyGrid.dmCte},
        |prof AS (
        |  SELECT event_type,
        |    CAST(row_number() OVER w AS BIGINT) AS k,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n,
        |    CAST(SUM(y) OVER (PARTITION BY event_type) AS BIGINT) AS m,
        |    CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM dm
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |pp AS (
        |  SELECT event_type, k, n, n * cum - k * m AS p FROM prof),
        |boxes AS (
        |  SELECT event_type, n, s,
        |    (k - 1) // s AS box, (k - 1) % s + 1 AS j,
        |    CAST(p AS DOUBLE) AS p
        |  FROM pp, (SELECT unnest([4, 8, 16]) AS s) scales
        |  WHERE (k - 1) // s < n // s),
        |bstats AS (
        |  SELECT event_type, n, s, box,
        |    SUM(p) AS sp, SUM(p * p) AS spp, SUM(j * p) AS sjp
        |  FROM boxes GROUP BY 1, 2, 3, 4),
        |rv AS (
        |  SELECT event_type, n, s,
        |    AVG((spp - sp * sp / CAST(s AS DOUBLE)
        |      - (sjp - (s + 1) / 2.0 * sp) * (sjp - (s + 1) / 2.0 * sp)
        |        / (s * (s * s - 1) / 12.0)) / CAST(s AS DOUBLE)) AS v
        |  FROM bstats GROUP BY 1, 2, 3),
        |f AS (
        |  SELECT event_type, MAX(n) AS n,
        |    sqrt(GREATEST(MAX(CASE WHEN s = 4 THEN v END), 0.0))
        |      / MAX(n) AS f4,
        |    sqrt(GREATEST(MAX(CASE WHEN s = 8 THEN v END), 0.0))
        |      / MAX(n) AS f8,
        |    sqrt(GREATEST(MAX(CASE WHEN s = 16 THEN v END), 0.0))
        |      / MAX(n) AS f16
        |  FROM rv GROUP BY 1)
        |SELECT event_type, n AS n_days,
        |  ROUND(f4 / 1e3, 6) AS f4,
        |  ROUND(f8 / 1e3, 6) AS f8,
        |  ROUND(f16 / 1e3, 6) AS f16,
        |  ROUND((ln(f16) - ln(f4)) / (2.0 * ln(2.0)), 4) AS alpha
        |FROM f ORDER BY event_type""".stripMargin,

    "q_slo_burn" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS h,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT h, n, x,
        |    CAST(SUM(n) OVER w6 AS BIGINT) AS n6,
        |    CAST(SUM(x) OVER w6 AS BIGINT) AS x6,
        |    CAST(SUM(n) OVER w24 AS BIGINT) AS n24,
        |    CAST(SUM(x) OVER w24 AS BIGINT) AS x24
        |  FROM (SELECT h, n, x,
        |      epoch_ms(h) // 3600000 AS he FROM hourly) d
        |  WINDOW w6 AS (ORDER BY he
        |      RANGE BETWEEN 5 PRECEDING AND CURRENT ROW),
        |    w24 AS (ORDER BY he
        |      RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)),
        |f AS (
        |  SELECT h, n, x,
        |    CAST(x AS DOUBLE) / n / 0.01 AS b1,
        |    CAST(x6 AS DOUBLE) / n6 / 0.01 AS b6,
        |    CAST(x24 AS DOUBLE) / n24 / 0.01 AS b24
        |  FROM w)
        |SELECT h, n, x,
        |  ROUND(b1, 4) AS burn_1h,
        |  ROUND(b6, 4) AS burn_6h,
        |  ROUND(b24, 4) AS burn_24h,
        |  CAST(CASE WHEN b1 > 14.4 AND b6 > 14.4 THEN 1 ELSE 0 END
        |    AS BIGINT) AS page,
        |  CAST(CASE WHEN b6 > 6.0 AND b24 > 6.0 THEN 1 ELSE 0 END
        |    AS BIGINT) AS ticket
        |FROM f ORDER BY h""".stripMargin,

    "q_kcenter_greedy" -> {
      def dc(em: String) = LlmOps.duckCos("e.embedding", em)
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |p1 AS (SELECT vec_id AS id, embedding AS em FROM e
        |  WHERE vec_id = 0),
        |p2 AS (
        |  SELECT e.vec_id AS id, e.embedding AS em
        |  FROM e, p1 WHERE e.vec_id <> p1.id
        |  ORDER BY ${dc("p1.em")} ASC, e.vec_id ASC LIMIT 1),
        |p3 AS (
        |  SELECT e.vec_id AS id, e.embedding AS em
        |  FROM e, p1, p2
        |  WHERE e.vec_id <> p1.id AND e.vec_id <> p2.id
        |  ORDER BY LEAST(${dc("p1.em")}, ${dc("p2.em")}) ASC,
        |    e.vec_id ASC LIMIT 1),
        |p4 AS (
        |  SELECT e.vec_id AS id, e.embedding AS em
        |  FROM e, p1, p2, p3
        |  WHERE e.vec_id <> p1.id AND e.vec_id <> p2.id
        |    AND e.vec_id <> p3.id
        |  ORDER BY LEAST(${dc("p1.em")}, ${dc("p2.em")},
        |    ${dc("p3.em")}) ASC, e.vec_id ASC LIMIT 1),
        |rad AS (
        |  SELECT 1.0 - MIN(LEAST(${dc("p1.em")}, ${dc("p2.em")},
        |    ${dc("p3.em")}, ${dc("p4.em")})) AS radius
        |  FROM e, p1, p2, p3, p4
        |  WHERE e.vec_id <> p1.id AND e.vec_id <> p2.id
        |    AND e.vec_id <> p3.id AND e.vec_id <> p4.id),
        |picks AS (
        |  SELECT CAST(1 AS BIGINT) AS pick, id AS vec_id FROM p1
        |  UNION ALL SELECT 2, id FROM p2
        |  UNION ALL SELECT 3, id FROM p3
        |  UNION ALL SELECT 4, id FROM p4)
        |SELECT pick, vec_id, ROUND(radius, 6) AS coverage_radius
        |FROM picks, rad ORDER BY pick""".stripMargin
    }
  )
}
