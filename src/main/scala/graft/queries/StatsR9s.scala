package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-9 wave 19 (SURVEY.md §2 B.10b): scaling-law fits and
  * dispersion/agreement diagnostics — Heaps' law β/K over the
  * q_vocab_growth curve (1e6-snapped logs, cleared OLS), the Fano
  * factor of hourly arrival counts (exact variance/mean ratio),
  * Taylor's power law across days, Rényi collision entropy (2lnN −
  * lnΣn², one chain), Engle's ARCH LM on squared returns (products
  * exceed int64 — decimal(38)/HUGEINT sums), and linearly weighted
  * Cohen's kappa on the half-to-half activity terciles (N·ΣwO vs
  * Σw·r·c clears every denominator). Exact to the last division.
  */
object StatsR9s {

  import DailyGrid.wo

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Heaps' law fit V = K·n^β over the q_vocab_growth decile curve:
    // logs of the exact cumulative counts snapped to 1e6 longs,
    // cleared OLS slope, K from the mean point — one identical
    // double chain on one output row.
    "q_heaps_fit" -> ((s, d) => {
      val curve = Training.queries("q_vocab_growth")(s, d)
        .filter(col("cum_tokens") > 0 && col("vocab_size") > 0)
        .select(
          round(log(col("cum_tokens").cast("double")) * 1e6)
            .cast("long").as("lx"),
          round(log(col("vocab_size").cast("double")) * 1e6)
            .cast("long").as("ly"))
      curve.agg(count(lit(1)).as("n"), sum("lx").as("sx"),
          sum("ly").as("sy"), sum(col("lx") * col("ly")).as("sxy"),
          sum(col("lx") * col("lx")).as("sxx"))
        .filter(col("n") > 1
          && col("n") * col("sxx") > col("sx") * col("sx"))
        .select(col("n").as("n_points"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx")), 4)
            .as("heaps_beta"),
          round(exp((col("sy").cast("double")
            - (col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double")
              / (col("n") * col("sxx") - col("sx") * col("sx"))
              * col("sx")) / col("n") / 1e6), 4).as("heaps_k"))
    }),

    // Fano factor + burstiness of hourly arrival counts per type
    // (present hours only — stated): F = (nΣc²−(Σc)²)/((n−1)Σc) is an
    // exact ratio; B = (σ−μ)/(σ+μ) one identical chain.
    "q_fano_factor" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_hours"), sum("c").as("sc"),
          sum(col("c") * col("c")).as("scc"))
        .filter(col("n_hours") > 1 && col("sc") > 0)
        .select(col("event_type"), col("n_hours"),
          round((col("n_hours") * col("scc") - col("sc") * col("sc"))
            .cast("double")
            / ((col("n_hours") - 1) * col("sc")), 4).as("fano"),
          round((sqrt((col("n_hours") * col("scc")
              - col("sc") * col("sc")).cast("double")
              / (col("n_hours") * (col("n_hours") - lit(1L))))
            - col("sc").cast("double") / col("n_hours"))
            / (sqrt((col("n_hours") * col("scc")
              - col("sc") * col("sc")).cast("double")
              / (col("n_hours") * (col("n_hours") - lit(1L))))
            + col("sc").cast("double") / col("n_hours")), 4)
            .as("burstiness"))
        .orderBy("event_type")
    }),

    // Taylor's power law per type: per-day mean/variance of hourly
    // counts (cleared, then ln-snapped to 1e6), OLS slope across the
    // day points — the aggregation-invariance exponent.
    "q_taylor_law" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"),
          date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("c"))
        .groupBy("event_type", "d")
        .agg(count(lit(1)).as("nh"), sum("c").as("sc"),
          sum(col("c") * col("c")).as("scc"))
        .filter(col("nh") > 1
          && col("nh") * col("scc") > col("sc") * col("sc"))
        .select(col("event_type"),
          round(log(col("sc").cast("double") / col("nh")) * 1e6)
            .cast("long").as("lm"),
          round(log((col("nh") * col("scc") - col("sc") * col("sc"))
            .cast("double")
            / (col("nh") * (col("nh") - lit(1L)))) * 1e6)
            .cast("long").as("lv"))
      daily.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("lm").as("sx"),
          sum("lv").as("sy"), sum(col("lm") * col("lv")).as("sxy"),
          sum(col("lm") * col("lm")).as("sxx"))
        .filter(col("n") > 1
          && col("n") * col("sxx") > col("sx") * col("sx"))
        .select(col("event_type"), col("n").as("n_days"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx")), 4)
            .as("taylor_b"))
        .orderBy("event_type")
    }),

    // Rényi collision entropy (α=2) per type over the exact centi
    // value histogram: H₂ = 2·ln N − ln Σn² — one identical chain.
    "q_renyi2" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"),
          round(col("value") * 100).cast("long").as("v_c"))
        .agg(count(lit(1)).as("n"))
        .groupBy("event_type")
        .agg(sum("n").as("nn"), count(lit(1)).as("n_distinct"),
          sum(col("n") * col("n")).as("sn2"))
        .select(col("event_type"), col("nn").as("n_events"),
          col("n_distinct"),
          round(log(col("nn").cast("double")) * 2
            - log(col("sn2").cast("double")), 6).as("renyi2"))
        .orderBy("event_type")
    }),

    // Engle's ARCH LM per type: squared µ returns regressed on their
    // lag — products of squares exceed int64, so every moment sum
    // accumulates as decimal(38,0) (Spark) / HUGEINT (DuckDB), both
    // exact; R² and LM = (n−1)·R² close the row.
    "q_arch_lm" -> ((s, d) => {
      val sq = DailyGrid.ret(s, d)
        .withColumn("sq", col("r_u") * col("r_u"))
        .withColumn("px", lag("sq", 1).over(wo))
        .filter(col("px").isNotNull)
      sq.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("px").cast("decimal(38,0)")).as("sx"),
          sum(col("sq").cast("decimal(38,0)")).as("sy"),
          sum(col("px").cast("decimal(38,0)")
            * col("sq").cast("decimal(38,0)")).as("sxy"),
          sum(col("px").cast("decimal(38,0)")
            * col("px").cast("decimal(38,0)")).as("sxx"),
          sum(col("sq").cast("decimal(38,0)")
            * col("sq").cast("decimal(38,0)")).as("syy"))
        .withColumn("cxy", (col("n").cast("decimal(38,0)") * col("sxy")
          - col("sx") * col("sy")).cast("double"))
        .withColumn("cxx", (col("n").cast("decimal(38,0)") * col("sxx")
          - col("sx") * col("sx")).cast("double"))
        .withColumn("cyy", (col("n").cast("decimal(38,0)") * col("syy")
          - col("sy") * col("sy")).cast("double"))
        .filter(col("n") > 2 && col("cxx") > 0 && col("cyy") > 0)
        .select(col("event_type"), col("n").as("n_pairs"),
          round(col("cxy") * col("cxy") / (col("cxx") * col("cyy")), 6)
            .as("r2"),
          round(col("n") * col("cxy") * col("cxy")
            / (col("cxx") * col("cyy")), 4).as("lm_stat"))
        .orderBy("event_type")
    }),

    // Linearly weighted Cohen's kappa on the order-date-half activity
    // terciles (q_segment_migration's grid): with w = |i−j|,
    // κ_w = 1 − N·ΣwO/Σ(w·r_i·c_j) — every denominator cleared, ONE
    // division.
    "q_weighted_kappa" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("half",
          when(col("o_orderdate") < lit("1996-01-01").cast("date"),
            "h1").otherwise("h2"))
        .groupBy("o_custkey", "half").agg(count(lit(1)).as("n"))
        .withColumn("seg", ntile(3).over(
          Window.partitionBy("half").orderBy("n", "o_custkey")))
      val m = o.filter(col("half") === "h1")
        .select(col("o_custkey"), col("seg").as("s1"))
        .join(o.filter(col("half") === "h2")
          .select(col("o_custkey"), col("seg").as("s2")), "o_custkey")
        .groupBy("s1", "s2").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(eager = true) // bounded 3x3, 3 legs
      val rowT = m.groupBy("s1").agg(sum("cnt").as("r"))
      val colT = m.groupBy("s2").agg(sum("cnt").as("c"))
      val nT = m.agg(sum("cnt").as("nn"))
      val wo0 = m.agg(sum(abs(col("s1") - col("s2")) * col("cnt"))
        .as("wo"))
      val we = rowT.crossJoin(colT)
        .agg(sum(abs(col("s1") - col("s2")) * col("r") * col("c"))
          .as("we"))
      nT.crossJoin(wo0).crossJoin(we)
        .filter(col("we") > 0)
        .select(col("nn").as("n_customers"),
          round(lit(1.0) - col("nn").cast("double") * col("wo")
            / col("we"), 4).as("kappa_w"))
    })
  )

  val oracle: Map[String, String] = Map(
    // curve leg = the q_vocab_growth oracle verbatim; identical
    // snapped logs and cleared OLS
    "q_heaps_fit" ->
      s"""WITH curve AS (${Training.oracle("q_vocab_growth")}),
        |pts AS (
        |  SELECT
        |    CAST(ROUND(ln(CAST(cum_tokens AS DOUBLE)) * 1e6)
        |      AS BIGINT) AS lx,
        |    CAST(ROUND(ln(CAST(vocab_size AS DOUBLE)) * 1e6)
        |      AS BIGINT) AS ly
        |  FROM curve WHERE cum_tokens > 0 AND vocab_size > 0),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(lx) AS BIGINT) AS sx,
        |    CAST(SUM(ly) AS BIGINT) AS sy,
        |    CAST(SUM(lx * ly) AS BIGINT) AS sxy,
        |    CAST(SUM(lx * lx) AS BIGINT) AS sxx
        |  FROM pts)
        |SELECT n AS n_points,
        |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (n * sxx - sx * sx), 4) AS heaps_beta,
        |  ROUND(exp((CAST(sy AS DOUBLE)
        |    - CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (n * sxx - sx * sx) * sx) / n / 1e6), 4) AS heaps_k
        |FROM ag WHERE n > 1 AND n * sxx > sx * sx""".stripMargin,

    // identical exact ratio and chain
    "q_fano_factor" ->
      """WITH hc AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
        |    CAST(SUM(c) AS BIGINT) AS sc,
        |    CAST(SUM(c * c) AS BIGINT) AS scc
        |  FROM hc GROUP BY 1)
        |SELECT event_type, n_hours,
        |  ROUND(CAST(n_hours * scc - sc * sc AS DOUBLE)
        |    / ((n_hours - 1) * sc), 4) AS fano,
        |  ROUND((sqrt(CAST(n_hours * scc - sc * sc AS DOUBLE)
        |      / (n_hours * (n_hours - 1)))
        |    - CAST(sc AS DOUBLE) / n_hours)
        |    / (sqrt(CAST(n_hours * scc - sc * sc AS DOUBLE)
        |      / (n_hours * (n_hours - 1)))
        |    + CAST(sc AS DOUBLE) / n_hours), 4) AS burstiness
        |FROM ag WHERE n_hours > 1 AND sc > 0
        |ORDER BY event_type""".stripMargin,

    // identical per-day cleared moments, snapped logs, cleared OLS
    "q_taylor_law" ->
      """WITH hc AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2, 3),
        |dd AS (
        |  SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS nh,
        |    CAST(SUM(c) AS BIGINT) AS sc,
        |    CAST(SUM(c * c) AS BIGINT) AS scc
        |  FROM hc GROUP BY 1, 2),
        |pt AS (
        |  SELECT event_type,
        |    CAST(ROUND(ln(CAST(sc AS DOUBLE) / nh) * 1e6) AS BIGINT)
        |      AS lm,
        |    CAST(ROUND(ln(CAST(nh * scc - sc * sc AS DOUBLE)
        |      / (nh * (nh - 1))) * 1e6) AS BIGINT) AS lv
        |  FROM dd WHERE nh > 1 AND nh * scc > sc * sc),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(lm) AS BIGINT) AS sx,
        |    CAST(SUM(lv) AS BIGINT) AS sy,
        |    CAST(SUM(lm * lv) AS BIGINT) AS sxy,
        |    CAST(SUM(lm * lm) AS BIGINT) AS sxx
        |  FROM pt GROUP BY 1)
        |SELECT event_type, n AS n_days,
        |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (n * sxx - sx * sx), 4) AS taylor_b
        |FROM ag WHERE n > 1 AND n * sxx > sx * sx
        |ORDER BY event_type""".stripMargin,

    // identical histogram and chain
    "q_renyi2" ->
      """WITH h AS (
        |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |ag AS (
        |  SELECT event_type, CAST(SUM(n) AS BIGINT) AS nn,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(SUM(n * n) AS BIGINT) AS sn2
        |  FROM h GROUP BY 1)
        |SELECT event_type, nn AS n_events, n_distinct,
        |  ROUND(ln(CAST(nn AS DOUBLE)) * 2 - ln(CAST(sn2 AS DOUBLE)),
        |    6) AS renyi2
        |FROM ag ORDER BY event_type""".stripMargin,

    // identical HUGEINT moment sums and chain
    "q_arch_lm" ->
      s"""WITH ${DailyGrid.retCte},
        |sq AS (
        |  SELECT event_type, sq,
        |    lag(sq) OVER (PARTITION BY event_type ORDER BY d) AS px
        |  FROM (SELECT event_type, d, r_u * r_u AS sq FROM ret)),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(px AS HUGEINT)) AS sx,
        |    SUM(CAST(sq AS HUGEINT)) AS sy,
        |    SUM(CAST(px AS HUGEINT) * sq) AS sxy,
        |    SUM(CAST(px AS HUGEINT) * px) AS sxx,
        |    SUM(CAST(sq AS HUGEINT) * sq) AS syy
        |  FROM sq WHERE px IS NOT NULL GROUP BY 1),
        |cl AS (
        |  SELECT event_type, n,
        |    CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) AS cxy,
        |    CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS cxx,
        |    CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE) AS cyy
        |  FROM ag)
        |SELECT event_type, n AS n_pairs,
        |  ROUND(cxy * cxy / (cxx * cyy), 6) AS r2,
        |  ROUND(n * cxy * cxy / (cxx * cyy), 4) AS lm_stat
        |FROM cl WHERE n > 2 AND cxx > 0 AND cyy > 0
        |ORDER BY event_type""".stripMargin,

    // identical tercile grid and cleared weighted kappa
    "q_weighted_kappa" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |    CASE WHEN o_orderdate < DATE '1996-01-01' THEN 'h1'
        |      ELSE 'h2' END AS half,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2),
        |sg AS (
        |  SELECT o_custkey, half,
        |    ntile(3) OVER (PARTITION BY half ORDER BY n, o_custkey)
        |      AS seg
        |  FROM o),
        |m AS (
        |  SELECT a.seg AS s1, b.seg AS s2,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM sg a JOIN sg b ON a.o_custkey = b.o_custkey
        |    AND a.half = 'h1' AND b.half = 'h2'
        |  GROUP BY 1, 2),
        |rt AS (SELECT s1, CAST(SUM(cnt) AS BIGINT) AS r
        |       FROM m GROUP BY 1),
        |ct AS (SELECT s2, CAST(SUM(cnt) AS BIGINT) AS c
        |       FROM m GROUP BY 1),
        |nn AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nn FROM m),
        |wo AS (
        |  SELECT CAST(SUM(ABS(s1 - s2) * cnt) AS BIGINT) AS wo
        |  FROM m),
        |we AS (
        |  SELECT CAST(SUM(ABS(rt.s1 - ct.s2) * rt.r * ct.c)
        |    AS BIGINT) AS we
        |  FROM rt, ct)
        |SELECT nn.nn AS n_customers,
        |  ROUND(1.0 - CAST(nn.nn AS DOUBLE) * wo.wo / we.we, 4)
        |    AS kappa_w
        |FROM nn, wo, we WHERE we.we > 0""".stripMargin
  )
}
