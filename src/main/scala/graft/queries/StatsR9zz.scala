package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-9 wave 53 (SURVEY.md §2 B.10b): event-study cumulative
  * abnormal returns around each type's top-3 volume days,
  * Engle-Granger two-step cointegration of the click/view daily
  * levels (snapped residuals → ADF + mean-reversion half-life),
  * β/σ-convergence of customer revenue across the temporal halves,
  * a Gompertz growth fit by ln(−ln F) linearization of weekly
  * adoption, and the risk-pooling factor + z·σ√L safety stock on
  * daily brand demand.
  */
object StatsR9zz {

  import DailyGrid.{wo, wp}

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Event study: events = each type's top-3 volume days (count
    // DESC, day ASC, stated); CAR = Σ_{τ∈[−2,2]} (r − r_m) in µ
    // units, averaged per type.
    "q_event_study_car" -> ((s, d) => {
      val r = DailyGrid.ret(s, d)
        .join(DailyGrid.marketRet(s, d), "d")
        .withColumn("i", row_number().over(wo).cast("long"))
        .withColumn("ab", col("r_u") - col("rm_u"))
        .localCheckpoint(eager = true)
      val ev = DailyGrid.mean(s, d).select("event_type", "d", "cnt")
        .withColumn("rk", row_number().over(
          wp.orderBy(col("cnt").desc, col("d").asc)))
        .filter(col("rk") <= 3)
        .join(r.select(col("event_type"), col("d"),
          col("i").as("e_i")), Seq("event_type", "d"))
      val car = ev.join(r.select(col("event_type"), col("i"),
          col("ab")), Seq("event_type"))
        .filter(col("i") >= col("e_i") - 2 && col("i") <= col("e_i") + 2)
        .groupBy("event_type", "e_i")
        .agg(sum("ab").as("car_u"))
      car.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          round(sum("car_u") / count(lit(1)).cast("double") / 1e6, 6)
            .as("mean_car"))
        .orderBy("event_type")
    }),

    // Engle-Granger: OLS view~click on the day-paired milli grid,
    // residuals snapped to 1e6; step 2 = the ADF β/t of Δe on e_{t−1}
    // (the adf_lite chain); ρ = 1 + β and half-life −ln2/ln ρ
    // (gated 0 < ρ < 1, stated).
    "q_engle_granger" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d)
      val pr = dm.filter(col("event_type") === "click")
        .select(col("d"), col("y").as("x"))
        .join(dm.filter(col("event_type") === "view")
          .select(col("d"), col("y")), "d")
        .localCheckpoint(eager = true)
      val m = pr.agg(count(lit(1)).as("n"), sum("x").as("sx"),
          sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .withColumn("cxy", col("n") * col("sxy") - col("sx") * col("sy"))
        .withColumn("cxx", col("n") * col("sxx") - col("sx") * col("sx"))
        .filter(col("cxx") > 0)
      val res = pr.crossJoin(broadcast(m))
        .withColumn("b", col("cxy").cast("double") / col("cxx"))
        .withColumn("a", (col("sy") - col("b") * col("sx")) / col("n"))
        .select(col("d"),
          round((col("y") - col("a") - col("b") * col("x")) * 1e6)
            .cast("long").as("e"))
      // bounded grain: one residual row per day
      val wd2 = Window.orderBy("d")
      val lg = res.withColumn("pe", lag("e", 1).over(wd2))
        .filter(col("pe").isNotNull)
        .withColumn("de", col("e") - col("pe"))
      lg.agg(count(lit(1)).as("n"),
          sum(col("pe").cast("decimal(38,0)")).as("sx2"),
          sum(col("de").cast("decimal(38,0)")).as("sy2"),
          sum(col("pe").cast("decimal(38,0)") * col("de")).as("sxy2"),
          sum(col("pe").cast("decimal(38,0)") * col("pe")).as("sxx2"),
          sum(col("de").cast("decimal(38,0)") * col("de")).as("syy2"))
        .withColumn("cxy", col("n") * col("sxy2")
          - col("sx2") * col("sy2"))
        .withColumn("cxx", col("n") * col("sxx2")
          - col("sx2") * col("sx2"))
        .withColumn("cyy", col("n") * col("syy2")
          - col("sy2") * col("sy2"))
        .filter(col("n") > 3 && col("cxx") > 0
          && col("cyy").cast("double") * col("cxx").cast("double")
            > col("cxy").cast("double") * col("cxy").cast("double"))
        .withColumn("beta", col("cxy").cast("double")
          / col("cxx").cast("double"))
        .select(col("n").as("n_diffs"),
          round(col("beta"), 6).as("eg_beta"),
          round(col("beta")
            / sqrt((col("cyy").cast("double")
              - col("cxy").cast("double") * col("cxy").cast("double")
                / col("cxx").cast("double"))
              / (col("n") - 2) * col("n")
              / col("cxx").cast("double")), 4).as("eg_adf_t"),
          when(col("beta") + 1 > 0 && col("beta") + 1 < 1,
            round(-log(lit(2.0)) / log(col("beta") + 1), 4))
            .as("half_life_days"))
    }),

    // β/σ-convergence of customer revenue across the temporal halves
    // (< / ≥ 1998-01-01, stated): g = ln(r2/r1) vs ln(r1) on the 1e6
    // snap, cleared OLS slope; σ: sd of the snapped logs per half.
    "q_convergence" -> ((s, d) => {
      val per = Tables.lineitem(s, d)
        .join(Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(when(col("o_orderdate")
            < lit("1998-01-01").cast("timestamp_ntz"),
          round(col("l_extendedprice") * 100).cast("long"))
          .otherwise(0L)).as("r1"),
          sum(when(col("o_orderdate")
              >= lit("1998-01-01").cast("timestamp_ntz"),
            round(col("l_extendedprice") * 100).cast("long"))
            .otherwise(0L)).as("r2"))
        .filter(col("r1") > 0 && col("r2") > 0)
        .select(round(log("r1") * 1e6).cast("long").as("x"),
          round((log("r2") - log("r1")) * 1e6).cast("long").as("g"))
      per.agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum(col("g").cast("decimal(38,0)")).as("sy"),
          sum(col("x").cast("decimal(38,0)") * col("g")).as("sxy"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
          sum((col("x") + col("g")).cast("decimal(38,0)")
            * (col("x") + col("g"))).as("s22"),
          sum((col("x") + col("g")).cast("decimal(38,0)")).as("s2"))
        .withColumn("cxx", col("n") * col("sxx") - col("sx") * col("sx"))
        .filter(col("n") > 2 && col("cxx") > 0)
        .select(col("n").as("n_customers"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") / col("cxx").cast("double"), 6)
            .as("beta_convergence"),
          round(sqrt((col("n") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
            / (col("n").cast("double") * (col("n") - 1))) / 1e6, 6)
            .as("sigma_half1"),
          round(sqrt((col("n") * col("s22").cast("double")
            - col("s2").cast("double") * col("s2").cast("double"))
            / (col("n").cast("double") * (col("n") - 1))) / 1e6, 6)
            .as("sigma_half2"))
    }),

    // Gompertz fit by linearization: weekly cumulative adopter share
    // F (the bass fixture), z = ln(−ln F) snapped 1e6 for 0<F<1,
    // OLS z ~ week index.
    "q_gompertz_fit" -> ((s, d) => {
      val fw = Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(date_trunc("week", min(col("o_orderdate"))).cast("date")
          .as("w"))
      val wk = fw.groupBy("w").agg(count(lit(1)).as("y"))
        // bounded grain: one row per week
        .withColumn("i", row_number().over(Window.orderBy("w"))
          .cast("long"))
        .withColumn("cum", sum("y").over(Window.orderBy("w")
          .rowsBetween(Window.unboundedPreceding, 0)))
      val tot = wk.agg(sum("y").as("nn"))
      val z = wk.crossJoin(broadcast(tot))
        .filter(col("cum") > 0 && col("cum") < col("nn"))
        .select(col("i"),
          round(log(-log(col("cum").cast("double") / col("nn"))) * 1e6)
            .cast("long").as("z"))
      z.agg(count(lit(1)).as("n"), sum("i").as("sx"), sum("z").as("sy"),
          sum(col("i") * col("z")).as("sxy"),
          sum(col("i") * col("i")).as("sxx"))
        .withColumn("cxx", col("n") * col("sxx") - col("sx") * col("sx"))
        .filter(col("n") > 2 && col("cxx") > 0)
        .select(col("n").as("n_weeks"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") / col("cxx") / 1e6, 6)
            .as("gompertz_slope"),
          round((col("sy").cast("double")
            - (col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double") / col("cxx") * col("sx")) / col("n")
            / 1e6, 6).as("gompertz_intercept"))
    }),

    // Risk pooling on daily brand demand: per-brand sample sd snapped
    // 1e6 (exact sum of the snapped sds), pooled sd of the daily
    // total; pooling factor = pooled / Σ individual.
    "q_risk_pooling" -> ((s, d) => {
      val bd = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("l_shipdate").cast("date").as("dd"))
        .agg(sum(col("l_quantity").cast("long")).as("q"))
        .localCheckpoint(eager = true)
      def sdExpr = sqrt((col("nd") * col("sqq").cast("double")
        - col("sq").cast("double") * col("sq"))
        / (col("nd").cast("double") * (col("nd") - 1)))
      val per = bd.groupBy("p_brand")
        .agg(count(lit(1)).as("nd"), sum("q").as("sq"),
          sum(col("q") * col("q")).as("sqq"))
        .filter(col("nd") > 1)
        .select(round(sdExpr * 1e6).cast("long").as("sd_u"))
      val pooled = bd.groupBy("dd").agg(sum("q").as("q"))
        .agg(count(lit(1)).as("nd"), sum("q").as("sq"),
          sum(col("q") * col("q")).as("sqq"))
        .filter(col("nd") > 1)
        .select(sdExpr.as("pooled_sd"))
      per.agg(count(lit(1)).as("n_brands"), sum("sd_u").as("ssd"))
        .crossJoin(pooled)
        .select(col("n_brands"),
          round(col("ssd") / 1e6, 6).as("sum_individual_sd"),
          round(col("pooled_sd"), 6).as("pooled_sd"),
          round(col("pooled_sd") / (col("ssd") / 1e6), 6)
            .as("pooling_factor"))
    }),

    // Safety stock per brand: z·σ_d·√L at z = 1.645, L = 7 days
    // (stated); top 10 by (safety stock, brand).
    "q_safety_stock" -> ((s, d) => {
      val bd = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("l_shipdate").cast("date").as("dd"))
        .agg(sum(col("l_quantity").cast("long")).as("q"))
      bd.groupBy("p_brand")
        .agg(count(lit(1)).as("nd"), sum("q").as("sq"),
          sum(col("q") * col("q")).as("sqq"))
        .filter(col("nd") > 1)
        .withColumn("sd", sqrt((col("nd") * col("sqq").cast("double")
          - col("sq").cast("double") * col("sq"))
          / (col("nd").cast("double") * (col("nd") - 1))))
        .withColumn("ss", lit(1.645) * col("sd") * sqrt(lit(7.0)))
        .select(col("p_brand").as("brand"),
          round(col("sq").cast("double") / col("nd"), 6)
            .as("mean_daily_demand"),
          round(col("sd"), 6).as("sd_daily_demand"),
          round(col("ss"), 4).as("safety_stock_7d"))
        .orderBy(col("safety_stock_7d").desc, col("brand").asc)
        .limit(10)
    })
  )

  val oracle: Map[String, String] = Map(
    // identical top-3 event windows
    "q_event_study_car" -> (s"WITH ${DailyGrid.retCte}, " +
      StatsR9zd.mrCte.replace("md AS", "md2 AS")
        .replace("FROM md", "FROM md2") +
      """,
        |rr AS (
        |  SELECT ret.event_type, ret.d, ret.r_u - mr.rm_u AS ab,
        |    CAST(row_number() OVER (PARTITION BY ret.event_type
        |      ORDER BY ret.d) AS BIGINT) AS i
        |  FROM ret JOIN mr ON ret.d = mr.d),
        |vol AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |ev AS (
        |  SELECT v.event_type, rr.i AS e_i FROM (
        |    SELECT event_type, d,
        |      row_number() OVER (PARTITION BY event_type
        |        ORDER BY cnt DESC, d ASC) AS rk
        |    FROM vol) v
        |  JOIN rr ON v.event_type = rr.event_type AND v.d = rr.d
        |  WHERE v.rk <= 3),
        |car AS (
        |  SELECT ev.event_type, ev.e_i, SUM(rr.ab) AS car_u
        |  FROM ev JOIN rr ON ev.event_type = rr.event_type
        |  WHERE rr.i >= ev.e_i - 2 AND rr.i <= ev.e_i + 2
        |  GROUP BY 1, 2)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  ROUND(SUM(car_u) / CAST(COUNT(*) AS DOUBLE) / 1e6, 6)
        |    AS mean_car
        |FROM car GROUP BY 1 ORDER BY event_type""".stripMargin),

    // identical snapped residual ADF
    "q_engle_granger" -> (s"WITH ${DailyGrid.dmCte}," +
      """
        |pr AS (
        |  SELECT cx.d, cx.y AS x, vy.y AS y FROM
        |    (SELECT d, y FROM dm WHERE event_type = 'click') cx
        |  JOIN (SELECT d, y FROM dm WHERE event_type = 'view') vy
        |    ON cx.d = vy.d),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
        |    SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |  FROM pr),
        |cl AS (
        |  SELECT n, sx, sy,
        |    n * sxy - sx * sy AS cxy, n * sxx - sx * sx AS cxx
        |  FROM m WHERE n * sxx - sx * sx > 0),
        |res AS (
        |  SELECT pr.d,
        |    CAST(ROUND((pr.y - ((cl.sy - (CAST(cl.cxy AS DOUBLE)
        |        / cl.cxx) * cl.sx) / cl.n)
        |      - (CAST(cl.cxy AS DOUBLE) / cl.cxx) * pr.x) * 1e6)
        |      AS BIGINT) AS e
        |  FROM pr, cl),
        |lg AS (
        |  SELECT e - pe AS de, pe
        |  FROM (SELECT e, lag(e) OVER (ORDER BY d) AS pe FROM res)
        |  WHERE pe IS NOT NULL),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(pe AS HUGEINT)) AS sx2,
        |    SUM(CAST(de AS HUGEINT)) AS sy2,
        |    SUM(CAST(pe AS HUGEINT) * de) AS sxy2,
        |    SUM(CAST(pe AS HUGEINT) * pe) AS sxx2,
        |    SUM(CAST(de AS HUGEINT) * de) AS syy2
        |  FROM lg),
        |c2 AS (
        |  SELECT n,
        |    n * sxy2 - sx2 * sy2 AS cxy,
        |    n * sxx2 - sx2 * sx2 AS cxx,
        |    n * syy2 - sy2 * sy2 AS cyy
        |  FROM ag WHERE n > 3),
        |fin AS (
        |  SELECT n, CAST(cxy AS DOUBLE) / CAST(cxx AS DOUBLE) AS beta,
        |    cxx, cyy, cxy
        |  FROM c2
        |  WHERE cxx > 0 AND CAST(cyy AS DOUBLE) * CAST(cxx AS DOUBLE)
        |    > CAST(cxy AS DOUBLE) * CAST(cxy AS DOUBLE))
        |SELECT n AS n_diffs, ROUND(beta, 6) AS eg_beta,
        |  ROUND(beta / sqrt((CAST(cyy AS DOUBLE)
        |    - CAST(cxy AS DOUBLE) * CAST(cxy AS DOUBLE)
        |      / CAST(cxx AS DOUBLE)) / (n - 2) * n
        |    / CAST(cxx AS DOUBLE)), 4) AS eg_adf_t,
        |  CASE WHEN beta + 1 > 0 AND beta + 1 < 1
        |    THEN ROUND(-LN(2.0) / LN(beta + 1), 4) END
        |    AS half_life_days
        |FROM fin""".stripMargin),

    // identical snapped convergence moments
    "q_convergence" ->
      """WITH per AS (
        |  SELECT o.o_custkey,
        |    SUM(CASE WHEN o.o_orderdate < TIMESTAMP '1998-01-01'
        |      THEN CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
        |      ELSE 0 END) AS r1,
        |    SUM(CASE WHEN o.o_orderdate >= TIMESTAMP '1998-01-01'
        |      THEN CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
        |      ELSE 0 END) AS r2
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1 HAVING r1 > 0 AND r2 > 0),
        |sn AS (
        |  SELECT CAST(ROUND(LN(r1) * 1000000) AS BIGINT) AS x,
        |    CAST(ROUND((LN(r2) - LN(r1)) * 1000000) AS BIGINT) AS g
        |  FROM per),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx,
        |    SUM(CAST(g AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * g) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(x + g AS HUGEINT) * (x + g)) AS s22,
        |    SUM(CAST(x + g AS HUGEINT)) AS s2
        |  FROM sn)
        |SELECT n AS n_customers,
        |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE), 6)
        |    AS beta_convergence,
        |  ROUND(sqrt((n * CAST(sxx AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * (n - 1))) / 1e6, 6)
        |    AS sigma_half1,
        |  ROUND(sqrt((n * CAST(s22 AS DOUBLE)
        |    - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * (n - 1))) / 1e6, 6)
        |    AS sigma_half2
        |FROM ag WHERE n > 2 AND n * sxx - sx * sx > 0""".stripMargin,

    // identical ln(−ln F) linearization
    "q_gompertz_fit" ->
      """WITH fw AS (
        |  SELECT o_custkey,
        |    CAST(date_trunc('week', CAST(MIN(o_orderdate) AS DATE))
        |      AS DATE) AS w
        |  FROM orders GROUP BY 1),
        |wk AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS y FROM fw GROUP BY 1),
        |cm AS (
        |  SELECT w, y,
        |    CAST(row_number() OVER (ORDER BY w) AS BIGINT) AS i,
        |    SUM(y) OVER (ORDER BY w
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum
        |  FROM wk),
        |tot AS (SELECT SUM(y) AS nn FROM wk),
        |z AS (
        |  SELECT i,
        |    CAST(ROUND(LN(-LN(CAST(cum AS DOUBLE) / nn)) * 1000000)
        |      AS BIGINT) AS z
        |  FROM cm, tot WHERE cum > 0 AND cum < nn),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(i) AS sx,
        |    SUM(z) AS sy, SUM(i * z) AS sxy, SUM(i * i) AS sxx
        |  FROM z)
        |SELECT n AS n_weeks,
        |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (n * sxx - sx * sx) / 1e6, 6) AS gompertz_slope,
        |  ROUND((CAST(sy AS DOUBLE)
        |    - CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx)
        |      * sx) / n / 1e6, 6) AS gompertz_intercept
        |FROM ag WHERE n > 2 AND n * sxx - sx * sx > 0""".stripMargin,

    // identical snapped per-brand sds + pooled sd
    "q_risk_pooling" ->
      """WITH bd AS (
        |  SELECT p.p_brand, CAST(l.l_shipdate AS DATE) AS dd,
        |    CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2),
        |per AS (
        |  SELECT CAST(ROUND(sqrt((nd * CAST(sqq AS DOUBLE)
        |      - CAST(sq AS DOUBLE) * sq)
        |      / (CAST(nd AS DOUBLE) * (nd - 1))) * 1e6) AS BIGINT)
        |      AS sd_u
        |  FROM (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS nd,
        |          SUM(q) AS sq, SUM(q * q) AS sqq
        |        FROM bd GROUP BY 1)
        |  WHERE nd > 1),
        |pooled AS (
        |  SELECT sqrt((nd * CAST(sqq AS DOUBLE)
        |    - CAST(sq AS DOUBLE) * sq)
        |    / (CAST(nd AS DOUBLE) * (nd - 1))) AS pooled_sd
        |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS nd, SUM(q) AS sq,
        |          SUM(q * q) AS sqq
        |        FROM (SELECT dd, SUM(q) AS q FROM bd GROUP BY 1))
        |  WHERE nd > 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_brands,
        |  ROUND(SUM(sd_u) / 1e6, 6) AS sum_individual_sd,
        |  ROUND(MAX(pooled.pooled_sd), 6) AS pooled_sd,
        |  ROUND(MAX(pooled.pooled_sd) / (SUM(sd_u) / 1e6), 6)
        |    AS pooling_factor
        |FROM per, pooled""".stripMargin,

    // identical z·σ√L chain
    "q_safety_stock" ->
      """WITH bd AS (
        |  SELECT p.p_brand, CAST(l.l_shipdate AS DATE) AS dd,
        |    CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2),
        |st AS (
        |  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS nd,
        |    SUM(q) AS sq, SUM(q * q) AS sqq
        |  FROM bd GROUP BY 1 HAVING COUNT(*) > 1),
        |f AS (
        |  SELECT p_brand, nd, sq,
        |    sqrt((nd * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * sq)
        |      / (CAST(nd AS DOUBLE) * (nd - 1))) AS sd
        |  FROM st)
        |SELECT p_brand AS brand,
        |  ROUND(CAST(sq AS DOUBLE) / nd, 6) AS mean_daily_demand,
        |  ROUND(sd, 6) AS sd_daily_demand,
        |  ROUND(1.645 * sd * sqrt(7.0), 4) AS safety_stock_7d
        |FROM f
        |ORDER BY safety_stock_7d DESC, brand ASC
        |LIMIT 10""".stripMargin
  )
}
