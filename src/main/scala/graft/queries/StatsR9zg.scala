package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-9 wave 33 (SURVEY.md §2 B.10b): the two-sample
  * nonparametric battery on the click(g=1)/view(g=2) daily milli-mean
  * grid (the q_brunner_munzel fixture) — Siegel-Tukey alternating
  * extreme ranks, Conover squared ranks of median-centered deviations
  * (the levene doubled-µ median, stated), the Cucconi location-scale
  * test, Fligner-Policello robust rank-order, Savage (exponential)
  * scores, and the Wald-Wolfowitz two-sample runs test.
  *
  * Rank conventions: midrank keys ride the doubled-midrank integer
  * grid (2·less+eq+1, crossJoin over the ≤ 60-row bounded grid,
  * stated); total-order keys state the (y, g, d) tie-break. Savage
  * scores come from a WINDOW-cumulative harmonic tail — a
  * sequentially-defined double both engines evaluate in the same
  * order — snapped per row to 1e9. Every statistic assembles from
  * exact long/decimal sums in one double chain.
  */
object StatsR9zg {

  /** (g, d, y): g=1 click, g=2 view, y = daily milli-mean. */
  // the session's DailyGrid.mean, filtered + relabeled at the
  // bounded day grain
  private def ser(s: SparkSession, d: String): DataFrame =
    DailyGrid.mean(s, d)
      .filter(col("event_type").isin("click", "view"))
      .select(when(col("event_type") === "click", 1L).otherwise(2L)
          .as("g"), col("d"), col("y"))

  private val serCte: String =
    """ser AS (
      |  SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 2 END AS g,
      |    d, s_m // cnt AS y
      |  FROM (SELECT event_type, CAST(ts AS DATE) AS d,
      |          SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS s_m,
      |          COUNT(*) AS cnt
      |        FROM events WHERE event_type IN ('click', 'view')
      |        GROUP BY 1, 2))""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Siegel-Tukey: total order (y, g, d) (stated), middle position
    // dropped when N is odd (stated); alternating extreme ranks via
    // the closed parity form (bottom depth k → 2k−1 odd / 2k even,
    // top depth k → 2k odd / 2k−1 even), then the Wilcoxon z of
    // group-1's rank sum (permutation variance, no tie term — the
    // ranks are a permutation by construction).
    "q_siegel_tukey" -> ((s, d) => {
      // bounded grain: ser() is the (2 types x days) daily grid
      val w = Window.orderBy("y", "g", "d")
      val base = ser(s, d)
        .withColumn("p", row_number().over(w).cast("long"))
        .withColumn("nn", count(lit(1)).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .filter(col("nn") % 2 === 0 || col("p") =!= (col("nn") + 1) / 2)
        .withColumn("np", when(col("nn") % 2 === 0, col("nn"))
          .otherwise(col("nn") - 1))
        .withColumn("pp", when(col("nn") % 2 === 1
          && col("p") > (col("nn") + 1) / 2, col("p") - 1)
          .otherwise(col("p")))
        .withColumn("k", least(col("pp"), col("np") + 1 - col("pp")))
        .withColumn("bottom", col("pp") <= col("np") / 2)
        .withColumn("st",
          when(col("bottom") && col("k") % 2 === 1, col("k") * 2 - 1)
            .when(col("bottom"), col("k") * 2)
            .when(col("k") % 2 === 1, col("k") * 2)
            .otherwise(col("k") * 2 - 1))
      base.agg(
          sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("g") === 2, 1L).otherwise(0L)).as("n2"),
          sum(when(col("g") === 1, col("st")).otherwise(0L)).as("w1"),
          max("np").as("np"))
        .filter(col("n1") > 0 && col("n2") > 0)
        .select(col("n1"), col("n2"), col("w1").as("rank_sum_1"),
          round((col("w1") - col("n1") * (col("np") + 1) / 2.0)
            / sqrt(col("n1").cast("double") * col("n2")
              * (col("np") + 1) / 12.0), 6).as("st_z"))
    }),

    // Conover squared ranks on |2y − med2_g| (doubled-µ group
    // medians, stated): doubled midranks r2 of the deviations,
    // T1 = Σ_{g1} r2², z from the tie-robust moments
    // (the ×4 clearing cancels in z).
    "q_conover_sqranks" -> ((s, d) => {
      val wg = Window.partitionBy("g").orderBy("y", "d")
      val base = ser(s, d)
        .withColumn("rg", row_number().over(wg).cast("long"))
        .withColumn("ng", count(lit(1)).over(Window.partitionBy("g")))
      val med2 = base.groupBy("g")
        .agg(sum(when(col("rg") === expr("(ng + 1) div 2"), col("y"))
          .otherwise(0L)
          + when(col("rg") === expr("ng div 2 + 1"), col("y"))
            .otherwise(0L)).as("med2"))
      val dev = base.join(med2, "g")
        .select(col("g"), col("d"),
          abs(lit(2L) * col("y") - col("med2")).as("v"))
        .localCheckpoint(eager = true)
      val rk = dev.select(col("g").as("g1"), col("d").as("d1"),
          col("v").as("v1"))
        .crossJoin(dev.select(col("v").as("v2")))
        .groupBy("g1", "d1", "v1")
        .agg((lit(2L) * sum(when(col("v2") < col("v1"), 1L).otherwise(0L))
          + sum(when(col("v2") === col("v1"), 1L).otherwise(0L))
          + lit(1L)).as("r2"))
      rk.agg(
          sum(when(col("g1") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("g1") === 2, 1L).otherwise(0L)).as("n2"),
          sum(when(col("g1") === 1, col("r2") * col("r2"))
            .otherwise(0L)).as("t1"),
          sum(col("r2") * col("r2")).as("sq"),
          sum(col("r2") * col("r2") * col("r2") * col("r2")).as("q4"))
        .withColumn("n", col("n1") + col("n2"))
        .filter(col("n1") > 1 && col("n2") > 1
          && col("n") * col("q4") > col("sq") * col("sq"))
        .select(col("n1"), col("n2"),
          round((col("t1") - col("n1").cast("double") * col("sq")
              / col("n"))
            / sqrt(col("n1").cast("double") * col("n2")
              / (col("n").cast("double") * (col("n") - 1))
              * (col("q4") - col("sq").cast("double") * col("sq")
                / col("n"))), 6).as("conover_z"))
    }),

    // Cucconi location-scale: doubled midranks r2 of group 2 in the
    // combined sample; U from Σr2², V from the contrary ranks via
    // Σ(N+1−S)² = n2(N+1)² − (N+1)Σr2 + Σr2²/4, ρ = 2(N²−4)/
    // ((2N+1)(8N+11)) − 1, C = (U²+V²−2ρUV)/(2(1−ρ²)).
    "q_cucconi" -> ((s, d) => {
      val base = ser(s, d)
      val rk = base.select(col("g").as("g1"), col("d").as("d1"),
          col("y").as("y1"))
        .crossJoin(base.select(col("y").as("y2")))
        .groupBy("g1", "d1", "y1")
        .agg((lit(2L) * sum(when(col("y2") < col("y1"), 1L).otherwise(0L))
          + sum(when(col("y2") === col("y1"), 1L).otherwise(0L))
          + lit(1L)).as("r2"))
      rk.agg(
          sum(when(col("g1") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("g1") === 2, 1L).otherwise(0L)).as("n2"),
          sum(when(col("g1") === 2, col("r2")).otherwise(0L)).as("sr"),
          sum(when(col("g1") === 2, col("r2") * col("r2"))
            .otherwise(0L)).as("srr"))
        .withColumn("n", col("n1") + col("n2"))
        .filter(col("n1") > 1 && col("n2") > 1)
        .withColumn("u",
          (lit(6.0) * col("srr") / 4 - col("n2").cast("double")
            * (col("n") + 1) * (col("n") * 2 + 1))
          / sqrt(col("n1").cast("double") * col("n2") * (col("n") + 1)
            * (col("n") * 2 + 1) * (col("n") * 8 + 11) / 5))
        .withColumn("scon",
          col("n2").cast("double") * (col("n") + 1) * (col("n") + 1)
            - (col("n") + 1).cast("double") * col("sr")
            + col("srr").cast("double") / 4)
        .withColumn("v",
          (lit(6.0) * col("scon") - col("n2").cast("double")
            * (col("n") + 1) * (col("n") * 2 + 1))
          / sqrt(col("n1").cast("double") * col("n2") * (col("n") + 1)
            * (col("n") * 2 + 1) * (col("n") * 8 + 11) / 5))
        .withColumn("rho",
          lit(2.0) * (col("n").cast("double") * col("n") - 4)
            / ((col("n") * 2 + 1).cast("double") * (col("n") * 8 + 11))
            - 1)
        .select(col("n1"), col("n2"),
          round(col("u"), 6).as("u"), round(col("v"), 6).as("v"),
          round((col("u") * col("u") + col("v") * col("v")
            - lit(2.0) * col("rho") * col("u") * col("v"))
            / (lit(2.0) * (lit(1.0) - col("rho") * col("rho"))), 6)
            .as("cucconi_c"))
    }),

    // Fligner-Policello robust rank-order: doubled placements
    // p2 = 2·#{other<x}+#{=}, Û = (ΣP−ΣQ)/(2√(V1+V2+P̄Q̄)) with the
    // halved quantities spelled from the doubled longs.
    "q_fligner_policello" -> ((s, d) => {
      val base = ser(s, d)
      val plc = base.select(col("g").as("g1"), col("d").as("d1"),
          col("y").as("y1"))
        .crossJoin(base.select(col("g").as("g2"), col("y").as("y2")))
        .filter(col("g2") =!= col("g1"))
        .groupBy("g1", "d1", "y1")
        .agg((lit(2L) * sum(when(col("y2") < col("y1"), 1L).otherwise(0L))
          + sum(when(col("y2") === col("y1"), 1L).otherwise(0L)))
          .as("p2"))
      plc.agg(
          sum(when(col("g1") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("g1") === 2, 1L).otherwise(0L)).as("n2"),
          sum(when(col("g1") === 1, col("p2")).otherwise(0L)).as("sp"),
          sum(when(col("g1") === 2, col("p2")).otherwise(0L)).as("sq"),
          sum(when(col("g1") === 1, col("p2") * col("p2"))
            .otherwise(0L)).as("spp"),
          sum(when(col("g1") === 2, col("p2") * col("p2"))
            .otherwise(0L)).as("sqq"))
        .filter(col("n1") > 1 && col("n2") > 1)
        .withColumn("v1", (col("spp").cast("double")
          - col("sp").cast("double") * col("sp") / col("n1")) / 4)
        .withColumn("v2", (col("sqq").cast("double")
          - col("sq").cast("double") * col("sq") / col("n2")) / 4)
        .withColumn("pq", col("sp").cast("double") / (col("n1") * 2)
          * col("sq") / (col("n2") * 2))
        .filter(col("v1") + col("v2") + col("pq") > 0)
        .select(col("n1"), col("n2"),
          round((col("sp").cast("double") / 2 - col("sq") / lit(2.0))
            / (lit(2.0) * sqrt(col("v1") + col("v2") + col("pq"))), 6)
            .as("fp_u"))
    }),

    // Savage exponential scores: total order (y, g, d) (stated),
    // a_i = Σ_{j≥i} 1/j by a descending window cumulative (same
    // evaluation order in both engines), snapped per row to 1e9;
    // z from the exact snapped sums.
    "q_savage_scores" -> ((s, d) => {
      // bounded grain: ser() is the (2 types x days) daily grid
      val w = Window.orderBy("y", "g", "d")
      val wt = Window.orderBy(col("rk").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val scored = ser(s, d)
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("a", sum(lit(1.0) / col("rk")).over(wt))
        .withColumn("au", round(col("a") * 1e9).cast("long"))
      scored.agg(
          sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("g") === 2, 1L).otherwise(0L)).as("n2"),
          sum(when(col("g") === 1, col("au")).otherwise(0L)).as("s1"),
          sum("au").as("sa"),
          sum(col("au").cast("decimal(38,0)") * col("au")).as("saa"))
        .withColumn("n", col("n1") + col("n2"))
        .filter(col("n1") > 1 && col("n2") > 1)
        .withColumn("varn", col("n1").cast("double") * col("n2")
          / (col("n").cast("double") * (col("n") - 1))
          * (col("saa").cast("double")
            - col("sa").cast("double") * col("sa") / col("n")))
        .filter(col("varn") > 0)
        .select(col("n1"), col("n2"),
          round((col("s1") - col("n1").cast("double") * col("sa")
            / col("n")) / sqrt(col("varn")), 6).as("savage_z"))
    }),

    // Wald-Wolfowitz two-sample runs on the (y, g, d) total order
    // (stated): R runs of the group label, z = (R − μ)/σ with
    // μ = 2n1n2/N + 1, σ² = 2n1n2(2n1n2 − N)/(N²(N−1)).
    "q_ww_runs2" -> ((s, d) => {
      // bounded grain: ser() is the (2 types x days) daily grid
      val w = Window.orderBy("y", "g", "d")
      val runs = ser(s, d)
        .withColumn("pg", lag("g", 1).over(w))
        .select(col("g"),
          when(col("pg").isNull || col("pg") =!= col("g"), 1L)
            .otherwise(0L).as("brk"))
      runs.agg(
          sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("g") === 2, 1L).otherwise(0L)).as("n2"),
          sum("brk").as("r"))
        .withColumn("n", col("n1") + col("n2"))
        .withColumn("tw", lit(2.0) * col("n1") * col("n2"))
        .filter(col("n1") > 0 && col("n2") > 0
          && col("tw") > col("n"))
        .select(col("n1"), col("n2"), col("r").as("n_runs"),
          round((col("r") - col("tw") / col("n") - 1)
            / sqrt(col("tw") * (col("tw") - col("n"))
              / (col("n").cast("double") * col("n") * (col("n") - 1))),
            6).as("ww_z"))
    })
  )

  val oracle: Map[String, String] = Map(
    // identical parity-form alternating ranks
    "q_siegel_tukey" ->
      s"""WITH $serCte,
        |px AS (
        |  SELECT g,
        |    CAST(row_number() OVER (ORDER BY y, g, d) AS BIGINT) AS p,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS nn
        |  FROM ser),
        |fx AS (
        |  SELECT g,
        |    CASE WHEN nn % 2 = 1 AND p > (nn + 1) // 2 THEN p - 1
        |      ELSE p END AS pp,
        |    CASE WHEN nn % 2 = 0 THEN nn ELSE nn - 1 END AS np
        |  FROM px
        |  WHERE nn % 2 = 0 OR p <> (nn + 1) // 2),
        |st AS (
        |  SELECT g, np,
        |    CASE
        |      WHEN pp <= np // 2 AND LEAST(pp, np + 1 - pp) % 2 = 1
        |        THEN 2 * LEAST(pp, np + 1 - pp) - 1
        |      WHEN pp <= np // 2 THEN 2 * LEAST(pp, np + 1 - pp)
        |      WHEN LEAST(pp, np + 1 - pp) % 2 = 1
        |        THEN 2 * LEAST(pp, np + 1 - pp)
        |      ELSE 2 * LEAST(pp, np + 1 - pp) - 1 END AS st
        |  FROM fx),
        |ag AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n2,
        |    CAST(SUM(CASE WHEN g = 1 THEN st ELSE 0 END) AS BIGINT)
        |      AS w1,
        |    MAX(np) AS np
        |  FROM st)
        |SELECT n1, n2, w1 AS rank_sum_1,
        |  ROUND((w1 - n1 * (np + 1) / 2.0)
        |    / sqrt(CAST(n1 AS DOUBLE) * n2 * (np + 1) / 12.0), 6)
        |    AS st_z
        |FROM ag WHERE n1 > 0 AND n2 > 0""".stripMargin,

    // identical doubled-µ medians and squared midranks
    "q_conover_sqranks" ->
      s"""WITH $serCte,
        |rg AS (
        |  SELECT g, d, y,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY y, d)
        |      AS BIGINT) AS rg,
        |    CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS ng
        |  FROM ser),
        |md AS (
        |  SELECT g,
        |    SUM(CASE WHEN rg = (ng + 1) // 2 THEN y ELSE 0 END
        |      + CASE WHEN rg = ng // 2 + 1 THEN y ELSE 0 END) AS med2
        |  FROM rg GROUP BY 1),
        |dev AS (
        |  SELECT rg.g, rg.d, ABS(2 * rg.y - md.med2) AS v
        |  FROM rg JOIN md ON rg.g = md.g),
        |rk AS (
        |  SELECT a.g AS g1, a.d,
        |    2 * SUM(CASE WHEN b.v < a.v THEN 1 ELSE 0 END)
        |      + SUM(CASE WHEN b.v = a.v THEN 1 ELSE 0 END) + 1 AS r2
        |  FROM dev a, dev b GROUP BY a.g, a.d, a.v),
        |ag AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN g1 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(SUM(CASE WHEN g1 = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n2,
        |    CAST(SUM(CASE WHEN g1 = 1 THEN r2 * r2 ELSE 0 END)
        |      AS BIGINT) AS t1,
        |    CAST(SUM(r2 * r2) AS BIGINT) AS sq,
        |    CAST(SUM(r2 * r2 * r2 * r2) AS BIGINT) AS q4
        |  FROM rk)
        |SELECT n1, n2,
        |  ROUND((t1 - CAST(n1 AS DOUBLE) * sq / (n1 + n2))
        |    / sqrt(CAST(n1 AS DOUBLE) * n2
        |      / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))
        |      * (q4 - CAST(sq AS DOUBLE) * sq / (n1 + n2))), 6)
        |    AS conover_z
        |FROM ag
        |WHERE n1 > 1 AND n2 > 1
        |  AND (n1 + n2) * q4 > sq * sq""".stripMargin,

    // identical U/V/ρ assembly
    "q_cucconi" ->
      s"""WITH $serCte,
        |rk AS (
        |  SELECT a.g AS g1, a.d,
        |    2 * SUM(CASE WHEN b.y < a.y THEN 1 ELSE 0 END)
        |      + SUM(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) + 1 AS r2
        |  FROM ser a, ser b GROUP BY a.g, a.d, a.y),
        |ag AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN g1 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(SUM(CASE WHEN g1 = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n2,
        |    CAST(SUM(CASE WHEN g1 = 2 THEN r2 ELSE 0 END) AS BIGINT)
        |      AS sr,
        |    CAST(SUM(CASE WHEN g1 = 2 THEN r2 * r2 ELSE 0 END)
        |      AS BIGINT) AS srr
        |  FROM rk),
        |uv AS (
        |  SELECT n1, n2, n1 + n2 AS n,
        |    (6.0 * srr / 4 - CAST(n2 AS DOUBLE) * (n1 + n2 + 1)
        |      * (2 * (n1 + n2) + 1))
        |    / sqrt(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 1)
        |      * (2 * (n1 + n2) + 1) * (8 * (n1 + n2) + 11) / 5) AS u,
        |    (6.0 * (CAST(n2 AS DOUBLE) * (n1 + n2 + 1) * (n1 + n2 + 1)
        |        - CAST(n1 + n2 + 1 AS DOUBLE) * sr
        |        + CAST(srr AS DOUBLE) / 4)
        |      - CAST(n2 AS DOUBLE) * (n1 + n2 + 1)
        |        * (2 * (n1 + n2) + 1))
        |    / sqrt(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 1)
        |      * (2 * (n1 + n2) + 1) * (8 * (n1 + n2) + 11) / 5) AS v,
        |    2.0 * (CAST(n1 + n2 AS DOUBLE) * (n1 + n2) - 4)
        |      / ((2 * (n1 + n2) + 1) * (8.0 * (n1 + n2) + 11)) - 1
        |      AS rho
        |  FROM ag WHERE n1 > 1 AND n2 > 1)
        |SELECT n1, n2, ROUND(u, 6) AS u, ROUND(v, 6) AS v,
        |  ROUND((u * u + v * v - 2.0 * rho * u * v)
        |    / (2.0 * (1.0 - rho * rho)), 6) AS cucconi_c
        |FROM uv""".stripMargin,

    // identical doubled placements
    "q_fligner_policello" ->
      s"""WITH $serCte,
        |plc AS (
        |  SELECT a.g AS g1, a.d,
        |    2 * SUM(CASE WHEN b.y < a.y THEN 1 ELSE 0 END)
        |      + SUM(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) AS p2
        |  FROM ser a JOIN ser b ON b.g <> a.g
        |  GROUP BY a.g, a.d, a.y),
        |ag AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN g1 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(SUM(CASE WHEN g1 = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n2,
        |    CAST(SUM(CASE WHEN g1 = 1 THEN p2 ELSE 0 END) AS BIGINT)
        |      AS sp,
        |    CAST(SUM(CASE WHEN g1 = 2 THEN p2 ELSE 0 END) AS BIGINT)
        |      AS sq,
        |    CAST(SUM(CASE WHEN g1 = 1 THEN p2 * p2 ELSE 0 END)
        |      AS BIGINT) AS spp,
        |    CAST(SUM(CASE WHEN g1 = 2 THEN p2 * p2 ELSE 0 END)
        |      AS BIGINT) AS sqq
        |  FROM plc),
        |st AS (
        |  SELECT n1, n2, sp, sq,
        |    (spp - CAST(sp AS DOUBLE) * sp / n1) / 4 AS v1,
        |    (sqq - CAST(sq AS DOUBLE) * sq / n2) / 4 AS v2,
        |    CAST(sp AS DOUBLE) / (2 * n1) * sq / (2 * n2) AS pq
        |  FROM ag WHERE n1 > 1 AND n2 > 1)
        |SELECT n1, n2,
        |  ROUND((CAST(sp AS DOUBLE) / 2 - sq / 2.0)
        |    / (2.0 * sqrt(v1 + v2 + pq)), 6) AS fp_u
        |FROM st WHERE v1 + v2 + pq > 0""".stripMargin,

    // identical window-cumulative harmonic tails
    "q_savage_scores" ->
      s"""WITH $serCte,
        |rk AS (
        |  SELECT g,
        |    CAST(row_number() OVER (ORDER BY y, g, d) AS BIGINT) AS rk
        |  FROM ser),
        |sc AS (
        |  SELECT g,
        |    CAST(ROUND(SUM(1.0 / rk) OVER (ORDER BY rk DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1e9)
        |      AS BIGINT) AS au
        |  FROM rk),
        |ag AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n2,
        |    CAST(SUM(CASE WHEN g = 1 THEN au ELSE 0 END) AS BIGINT)
        |      AS s1,
        |    CAST(SUM(au) AS BIGINT) AS sa,
        |    SUM(CAST(au AS HUGEINT) * au) AS saa
        |  FROM sc),
        |st AS (
        |  SELECT n1, n2, n1 + n2 AS n, s1, sa,
        |    CAST(n1 AS DOUBLE) * n2
        |      / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))
        |      * (CAST(saa AS DOUBLE)
        |        - CAST(sa AS DOUBLE) * sa / (n1 + n2)) AS varn
        |  FROM ag WHERE n1 > 1 AND n2 > 1)
        |SELECT n1, n2,
        |  ROUND((s1 - CAST(n1 AS DOUBLE) * sa / n) / sqrt(varn), 6)
        |    AS savage_z
        |FROM st WHERE varn > 0""".stripMargin,

    // identical run-break counting
    "q_ww_runs2" ->
      s"""WITH $serCte,
        |rn AS (
        |  SELECT g,
        |    CASE WHEN lag(g) OVER (ORDER BY y, g, d) IS NULL
        |      OR lag(g) OVER (ORDER BY y, g, d) <> g THEN 1 ELSE 0
        |      END AS brk
        |  FROM ser),
        |ag AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n1,
        |    CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n2,
        |    CAST(SUM(brk) AS BIGINT) AS r
        |  FROM rn)
        |SELECT n1, n2, r AS n_runs,
        |  ROUND((r - 2.0 * n1 * n2 / (n1 + n2) - 1)
        |    / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
        |      / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
        |        * (n1 + n2 - 1))), 6) AS ww_z
        |FROM ag
        |WHERE n1 > 0 AND n2 > 0
        |  AND 2.0 * n1 * n2 > n1 + n2""".stripMargin
  )
}
