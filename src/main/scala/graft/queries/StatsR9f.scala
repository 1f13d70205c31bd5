package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-9 wave 6 (SURVEY.md §2 B.10b): trend-age indicators, a
  * dispersion-normalized oscillator, threshold performance, scale
  * reliability, and two rank tests — Aroon (argmax-age via an exact
  * h·1e6+i encoding, no nested windows), CCI (mean absolute deviation
  * cleared to integers by multiplying through the window sum), the
  * omega ratio, Cronbach's alpha (variance ratio as a pure rational
  * of exact sums), Mood's pairwise median test (the med2 double-rank
  * convention), and the Pettitt changepoint test (U_t = 2Σr − t(n+1)
  * closed form over tie-averaged double-ranks). Exact integers to the
  * last division; every window over the bounded day grid.
  */
object StatsR9f {

  import DailyGrid.{dailyCte, dmCte, retCte, wo, wp}

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Aroon (25-day): days-since-extreme WITHOUT a nested window —
    // encode e = h·1e6 + i (centi h < 5e5 and day index i < 1e6 keep
    // the order lexicographic and the sum exact); max(e) over the
    // window recovers the LATEST argmax day via e % 1e6. The low side
    // encodes 1e6 − i so min() also prefers the latest tie. Aroon =
    // (25 − age)·4 — exact integers 0..100, no division at all.
    "q_aroon" -> ((s, d) => {
      val w25 = wo.rowsBetween(-24, 0)
      DailyGrid.ohlc(s, d)
        .withColumn("eh", col("h") * 1000000L + col("i"))
        .withColumn("el", col("l") * 1000000L + (lit(1000000L) - col("i")))
        .withColumn("n25", count(lit(1)).over(w25))
        .withColumn("mh", max("eh").over(w25))
        .withColumn("ml", min("el").over(w25))
        .filter(col("n25") === 25)
        .select(col("event_type"), col("d"),
          ((lit(25L) - (col("i") - col("mh") % 1000000L)) * 4L)
            .as("aroon_up"),
          ((lit(25L) - (col("i") - (lit(1000000L) - col("ml") % 1000000L)))
            * 4L).as("aroon_dn"))
        .withColumn("aroon_osc", col("aroon_up") - col("aroon_dn"))
        .orderBy("event_type", "d")
    }),

    // Commodity channel index (20-day): typical price stays the exact
    // long 3tp = h+l+c; multiplying the deviation through by n=20
    // clears the window-mean rational, so the mean absolute deviation
    // sum T = Σ|20·tp3_j − S| is exact. The dependent sum (T needs S)
    // is a bounded day² self-join — pairs of DAYS, the q_macd
    // precedent — never events. cci = (tp−sma)/(0.015·md) reduces to
    // (20·tp3 − S)·10/(3T): ONE double division per row.
    "q_cci" -> ((s, d) => {
      val wS = wo.rowsBetween(-19, 0)
      val idx = DailyGrid.ohlc(s, d)
        .withColumn("tp3", col("h") + col("l") + col("c"))
        .select(col("event_type"), col("d"), col("i"), col("tp3"))
        .withColumn("n20", count(lit(1)).over(wS))
        .withColumn("ss", sum("tp3").over(wS))
        .localCheckpoint(eager = true) // bounded day grid, 2 legs
      val b = idx.select(col("event_type").as("et2"), col("i").as("j"),
        col("tp3").as("tp3j"))
      idx.filter(col("n20") === 20)
        .join(b, col("et2") === col("event_type")
          && col("j") >= col("i") - 19 && col("j") <= col("i"))
        .groupBy(col("event_type"), col("d"), col("tp3"), col("ss"))
        .agg(sum(abs(col("tp3j") * 20L - col("ss"))).as("t_dev"))
        .filter(col("t_dev") > 0)
        .select(col("event_type"), col("d"),
          round((col("tp3") * 20L - col("ss")) * 10.0
            / (col("t_dev") * 3L), 4).as("cci20"))
        .orderBy("event_type", "d")
    }),

    // Omega ratio (threshold 0) per type: Σ gains / Σ losses over the
    // µ-snapped daily log returns — both legs exact long sums, one
    // division at the end.
    "q_omega_ratio" -> ((s, d) => {
      DailyGrid.ret(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_ret"),
          sum(greatest(col("r_u"), lit(0L))).as("gains_u"),
          sum(greatest(-col("r_u"), lit(0L))).as("losses_u"))
        .filter(col("losses_u") > 0)
        .select(col("event_type"), col("n_ret"), col("gains_u"),
          col("losses_u"),
          round(col("gains_u").cast("double") / col("losses_u"), 6)
            .as("omega"))
        .orderBy("event_type")
    }),

    // Cronbach's alpha over the k event types as "items" and days as
    // "subjects" (days where ALL k types traded): the variance ratio
    // Σᵢvarᵢ/var_total clears its n(n−1) denominators, so A =
    // Σᵢ(n·Σy² − (Σy)²) and B = n·Σt² − (Σt)² are exact longs and
    // alpha = k·(1 − A/B)/(k−1) is one double chain on one output row.
    "q_cronbach_alpha" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d).select(col("event_type"), col("d"), col("y"))
      val k = dm.select(countDistinct("event_type")).first().getLong(0)
      val full = dm.groupBy("d").agg(count(lit(1)).as("nt"),
          sum("y").as("t"))
        .filter(col("nt") === k)
      val items = dm.join(full.select("d"), "d")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("y").as("sy"),
          sum(col("y") * col("y")).as("syy"))
        .agg(max("n").as("n"),
          sum(col("n") * col("syy") - col("sy") * col("sy")).as("a_num"))
      val tot = full.agg(count(lit(1)).as("n2"), sum("t").as("st"),
          sum(col("t") * col("t")).as("stt"))
        .select((col("n2") * col("stt") - col("st") * col("st"))
          .as("b_num"))
      items.crossJoin(tot)
        .select(lit(k).as("k_items"), col("n").as("n_days"),
          round(lit(k.toDouble) * (lit(1.0)
            - col("a_num").cast("double") / col("b_num"))
            / lit(k - 1.0), 6).as("alpha"))
    }),

    // Mood's median test for every pair of event types on the daily
    // milli-mean series: pooled med2 = y_(p1)+y_(p2) (the q_levene_bf
    // truncating-rank convention — odd n doubles the single middle),
    // 2×2 counts split on 2y > med2, chi-square N(ad−bc)²/(row·col
    // products) — exact integers to the single division.
    "q_mood_median" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d).select(col("event_type"), col("d"), col("y"))
      val pairs = dm.select(col("event_type").as("t1")).distinct()
        .join(dm.select(col("event_type").as("t2")).distinct(),
          col("t1") < col("t2"))
      val pooled = pairs.join(dm,
          col("event_type") === col("t1")
            || col("event_type") === col("t2"))
      val wp = Window.partitionBy("t1", "t2")
      val wr = wp.orderBy("y", "event_type", "d")
      val ranked = pooled
        .withColumn("rn", row_number().over(wr).cast("long"))
        .withColumn("n", count(lit(1)).over(wp))
        .withColumn("p1", expr("(n + 1) div 2")) // truncating int div
        .withColumn("p2", expr("n div 2 + 1"))
        .withColumn("med2",
          sum(when(col("rn") === col("p1"), col("y")).otherwise(0L))
            .over(wp)
          + sum(when(col("rn") === col("p2"), col("y")).otherwise(0L))
            .over(wp))
      ranked.groupBy("t1", "t2")
        .agg(max("n").as("n"),
          sum(when(col("event_type") === col("t1")
            && col("y") * 2 > col("med2"), 1L).otherwise(0L)).as("a"),
          sum(when(col("event_type") === col("t1")
            && col("y") * 2 <= col("med2"), 1L).otherwise(0L)).as("b"),
          sum(when(col("event_type") === col("t2")
            && col("y") * 2 > col("med2"), 1L).otherwise(0L)).as("c"),
          sum(when(col("event_type") === col("t2")
            && col("y") * 2 <= col("med2"), 1L).otherwise(0L)).as("dd"))
        .filter((col("a") + col("c")) > 0 && (col("b") + col("dd")) > 0)
        .select(col("t1"), col("t2"), col("n"),
          round(col("n").cast("double")
            * (col("a") * col("dd") - col("b") * col("c"))
            * (col("a") * col("dd") - col("b") * col("c"))
            / ((col("a") + col("b")) * (col("c") + col("dd"))
              * (col("a") + col("c")) * (col("b") + col("dd"))), 4)
            .as("chi2"))
        .orderBy("t1", "t2")
    }),

    // Pettitt changepoint test per type on the daily milli means:
    // tie-averaged ranks kept exact by doubling (2r̄ = 2·rank + ties
    // − 1, an integer), then the closed form U_t = Σ_{i≤t} 2r̄ −
    // t(n+1) — one rank window + one prefix sum, no t² pair scan. K =
    // max|U|, t* the first argmax day, p ≈ 2·exp(−6K²/(n³+n²)).
    "q_pettitt" -> ((s, d) => {
      val wy = Window.partitionBy("event_type").orderBy("y")
      val wt = Window.partitionBy("event_type", "y")
      val u = DailyGrid.mean(s, d)
        .select(col("event_type"), col("d"), col("y"), col("i"))
        .withColumn("n", count(lit(1)).over(wp))
        .withColumn("tr2",
          rank().over(wy).cast("long") * 2 + count(lit(1)).over(wt) - 1)
        .withColumn("u", sum("tr2").over(
          wo.rowsBetween(Window.unboundedPreceding, 0))
          - col("i") * (col("n") + 1))
        .filter(col("i") < col("n"))
        .withColumn("au", abs(col("u")))
        .withColumn("mx", max(abs(col("u"))).over(wp))
      u.filter(col("au") === col("mx"))
        .groupBy("event_type")
        .agg(max("n").as("n_days"), max("au").as("k_stat"),
          min("d").as("t_star"))
        .select(col("event_type"), col("n_days"), col("k_stat"),
          col("t_star"),
          round(lit(2.0) * exp(col("k_stat") * col("k_stat") * -6.0
            / (col("n_days") * col("n_days") * col("n_days")
              + col("n_days") * col("n_days"))), 6).as("p_approx"))
        .orderBy("event_type")
    })
  )

  val oracle: Map[String, String] = Map(
    // identical h·1e6+i / l·1e6+(1e6−i) argmax encodings
    "q_aroon" ->
      s"""WITH $dailyCte,
        |idx AS (
        |  SELECT event_type, d, h, l,
        |    CAST(row_number() OVER wd AS BIGINT) AS i
        |  FROM daily
        |  WINDOW wd AS (PARTITION BY event_type ORDER BY d)),
        |w AS (
        |  SELECT event_type, d, i,
        |    COUNT(*) OVER w25 AS n25,
        |    MAX(h * 1000000 + i) OVER w25 AS mh,
        |    MIN(l * 1000000 + (1000000 - i)) OVER w25 AS ml
        |  FROM idx
        |  WINDOW w25 AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)),
        |a AS (
        |  SELECT event_type, d,
        |    (25 - (i - mh % 1000000)) * 4 AS aroon_up,
        |    (25 - (i - (1000000 - ml % 1000000))) * 4 AS aroon_dn
        |  FROM w WHERE n25 = 25)
        |SELECT event_type, d, aroon_up, aroon_dn,
        |  aroon_up - aroon_dn AS aroon_osc
        |FROM a ORDER BY event_type, d""".stripMargin,

    // identical multiplied-through deviation sum (day² join)
    "q_cci" ->
      s"""WITH $dailyCte,
        |idx AS (
        |  SELECT event_type, d, h + l + c AS tp3,
        |    CAST(row_number() OVER wd AS BIGINT) AS i,
        |    COUNT(*) OVER w20 AS n20,
        |    SUM(h + l + c) OVER w20 AS ss
        |  FROM daily
        |  WINDOW wd AS (PARTITION BY event_type ORDER BY d),
        |    w20 AS (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |dev AS (
        |  SELECT a.event_type, a.d, a.tp3, a.ss,
        |    SUM(ABS(b.tp3 * 20 - a.ss)) AS t_dev
        |  FROM idx a JOIN idx b ON b.event_type = a.event_type
        |    AND b.i >= a.i - 19 AND b.i <= a.i
        |  WHERE a.n20 = 20
        |  GROUP BY 1, 2, 3, 4)
        |SELECT event_type, d,
        |  ROUND((tp3 * 20 - ss) * 10.0 / (t_dev * 3), 4) AS cci20
        |FROM dev WHERE t_dev > 0 ORDER BY event_type, d""".stripMargin,

    // identical exact gain/loss legs
    "q_omega_ratio" ->
      s"""WITH $retCte
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_ret,
        |  CAST(SUM(GREATEST(r_u, 0)) AS BIGINT) AS gains_u,
        |  CAST(SUM(GREATEST(-r_u, 0)) AS BIGINT) AS losses_u,
        |  ROUND(CAST(SUM(GREATEST(r_u, 0)) AS DOUBLE)
        |    / SUM(GREATEST(-r_u, 0)), 6) AS omega
        |FROM ret GROUP BY 1
        |HAVING SUM(GREATEST(-r_u, 0)) > 0
        |ORDER BY event_type""".stripMargin,

    // identical cleared-denominator variance ratio
    "q_cronbach_alpha" ->
      s"""WITH $dmCte,
        |kk AS (SELECT COUNT(DISTINCT event_type) AS k FROM dm),
        |fl AS (
        |  SELECT d, CAST(COUNT(*) AS BIGINT) AS nt,
        |    CAST(SUM(y) AS BIGINT) AS t
        |  FROM dm GROUP BY 1),
        |full_d AS (SELECT fl.* FROM fl, kk WHERE fl.nt = kk.k),
        |it AS (
        |  SELECT dm.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(dm.y) AS BIGINT) AS sy,
        |    CAST(SUM(dm.y * dm.y) AS BIGINT) AS syy
        |  FROM dm JOIN full_d ON dm.d = full_d.d
        |  GROUP BY 1),
        |an AS (
        |  SELECT MAX(n) AS n,
        |    CAST(SUM(n * syy - sy * sy) AS BIGINT) AS a_num
        |  FROM it),
        |bn AS (
        |  SELECT CAST(COUNT(*) * SUM(t * t) - SUM(t) * SUM(t)
        |    AS BIGINT) AS b_num
        |  FROM full_d)
        |SELECT CAST(kk.k AS BIGINT) AS k_items, an.n AS n_days,
        |  ROUND(kk.k * (1.0 - CAST(an.a_num AS DOUBLE) / bn.b_num)
        |    / (kk.k - 1.0), 6) AS alpha
        |FROM an, bn, kk""".stripMargin,

    // identical med2 double-rank split and 2×2 chi-square
    "q_mood_median" ->
      s"""WITH $dmCte,
        |pr AS (
        |  SELECT a.t1, b.t2 FROM
        |    (SELECT DISTINCT event_type AS t1 FROM dm) a,
        |    (SELECT DISTINCT event_type AS t2 FROM dm) b
        |  WHERE a.t1 < b.t2),
        |pl AS (
        |  SELECT pr.t1, pr.t2, dm.event_type, dm.d, dm.y
        |  FROM pr JOIN dm
        |    ON dm.event_type = pr.t1 OR dm.event_type = pr.t2),
        |rk AS (
        |  SELECT t1, t2, event_type, y,
        |    CAST(row_number() OVER (PARTITION BY t1, t2
        |      ORDER BY y, event_type, d) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY t1, t2) AS BIGINT) AS n
        |  FROM pl),
        |md AS (
        |  SELECT t1, t2, event_type, y, n,
        |    SUM(CASE WHEN rn = (n + 1) // 2 THEN y ELSE 0 END)
        |      OVER (PARTITION BY t1, t2)
        |    + SUM(CASE WHEN rn = n // 2 + 1 THEN y ELSE 0 END)
        |      OVER (PARTITION BY t1, t2) AS med2
        |  FROM rk),
        |ct AS (
        |  SELECT t1, t2, MAX(n) AS n,
        |    CAST(SUM(CASE WHEN event_type = t1 AND y * 2 > med2
        |      THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(SUM(CASE WHEN event_type = t1 AND y * 2 <= med2
        |      THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN event_type = t2 AND y * 2 > med2
        |      THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN event_type = t2 AND y * 2 <= med2
        |      THEN 1 ELSE 0 END) AS BIGINT) AS dd
        |  FROM md GROUP BY 1, 2)
        |SELECT t1, t2, n,
        |  ROUND(CAST(n AS DOUBLE) * (a * dd - b * c) * (a * dd - b * c)
        |    / ((a + b) * (c + dd) * (a + c) * (b + dd)), 4) AS chi2
        |FROM ct WHERE a + c > 0 AND b + dd > 0
        |ORDER BY t1, t2""".stripMargin,

    // identical doubled tie-averaged ranks and U_t closed form
    "q_pettitt" ->
      s"""WITH $dmCte,
        |rk AS (
        |  SELECT event_type, d, y,
        |    CAST(row_number() OVER wd AS BIGINT) AS i,
        |    CAST(COUNT(*) OVER wp AS BIGINT) AS n,
        |    CAST(rank() OVER (PARTITION BY event_type ORDER BY y)
        |      AS BIGINT) * 2
        |      + CAST(COUNT(*) OVER (PARTITION BY event_type, y)
        |        AS BIGINT) - 1 AS tr2
        |  FROM dm
        |  WINDOW wd AS (PARTITION BY event_type ORDER BY d),
        |    wp AS (PARTITION BY event_type)),
        |uu AS (
        |  SELECT event_type, d, n,
        |    CAST(ABS(SUM(tr2) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - i * (n + 1)) AS BIGINT) AS au
        |  FROM rk WHERE i < n),
        |mx AS (
        |  SELECT event_type, d, n, au,
        |    MAX(au) OVER (PARTITION BY event_type) AS m
        |  FROM uu)
        |SELECT event_type, MAX(n) AS n_days, MAX(au) AS k_stat,
        |  MIN(d) AS t_star,
        |  ROUND(2.0 * EXP(MAX(au) * MAX(au) * -6.0
        |    / (MAX(n) * MAX(n) * MAX(n) + MAX(n) * MAX(n))), 6)
        |    AS p_approx
        |FROM mx WHERE au = m GROUP BY 1 ORDER BY event_type""".stripMargin
  )
}
