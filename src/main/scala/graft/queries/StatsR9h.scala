package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-9 wave 8 (SURVEY.md §2 B.10b): dispersion / trend / change /
  * random-walk diagnostics — Ansari–Bradley (doubled midrank scores,
  * no-ties moments stated), Cuzick's trend test (doubled midranks ×
  * alphabetical group index, tie-corrected variance), SNHT (the
  * Buishand cleared deviation D_t reused: T_t = D²·n/(t(n−t)·SS)),
  * the Lo–MacKinlay variance ratio (squared cleared deviations summed
  * exactly in decimal(38)/HUGEINT — long would wrap), Dixon's Q
  * (exact gap/range rationals), and Page's L (within-block ranks with
  * the stated alphabetical tie-break). Exact integers to the final
  * identical IEEE chain.
  */
object StatsR9h {

  import DailyGrid.{dmCte, wo, wp}

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Ansari–Bradley dispersion test for every type pair on daily
    // milli means: doubled pooled midranks R2 = 2·rank + ties − 1,
    // doubled end-scores s2 = min(R2, 2(N+1) − R2), AB2 = Σ s2 over
    // the first sample; z from the classical no-ties moments (even/
    // odd N branches spelled identically as CASE in the oracle).
    "q_ansari_bradley" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d).select(col("event_type"), col("d"), col("y"))
      val pairs = dm.select(col("event_type").as("t1")).distinct()
        .join(dm.select(col("event_type").as("t2")).distinct(),
          col("t1") < col("t2"))
      val pooled = pairs.join(dm, col("event_type") === col("t1")
        || col("event_type") === col("t2"))
      val wpair = Window.partitionBy("t1", "t2")
      val scored = pooled
        .withColumn("r2", rank().over(wpair.orderBy("y")).cast("long") * 2
          + count(lit(1)).over(Window.partitionBy("t1", "t2", "y")) - 1)
        .withColumn("nn", count(lit(1)).over(wpair))
        .withColumn("s2", least(col("r2"),
          (col("nn") + 1) * 2 - col("r2")))
      scored.groupBy("t1", "t2")
        .agg(max("nn").as("nn"),
          sum(when(col("event_type") === col("t1"), 1L).otherwise(0L))
            .as("n1"),
          sum(when(col("event_type") === col("t2"), 1L).otherwise(0L))
            .as("n2"),
          sum(when(col("event_type") === col("t1"), col("s2"))
            .otherwise(0L)).as("ab2"))
        .select(col("t1"), col("t2"), col("n1"), col("n2"), col("ab2"),
          round((col("ab2") / 2.0
            - when(col("nn") % 2 === 0,
                col("n1") * (col("nn") + 2) / 4.0)
              .otherwise(col("n1") * (col("nn") + 1)
                * (col("nn") + 1) / (col("nn") * 4.0)))
            / sqrt(when(col("nn") % 2 === 0,
                col("n1") * col("n2") * (col("nn") + 2)
                  * (col("nn") - 2)
                  / ((col("nn") - 1) * 48.0))
              .otherwise(col("n1") * col("n2") * (col("nn") + 1)
                * (col("nn") * col("nn") + 3)
                / (col("nn") * col("nn") * 48.0))), 4).as("z"))
        .orderBy("t1", "t2")
    }),

    // Cuzick's trend test across the alphabetically ordered types:
    // doubled pooled midranks × the dense alphabetical group index,
    // expectation and tie-corrected variance from exact long sums,
    // one identical z chain on the single output row.
    "q_cuzick_trend" -> ((s, d) => {
      // bounded grain: daily-mean rows (2 types x days) and 5 event types
      val wy = Window.orderBy("y")
      val wty = Window.partitionBy("y")
      val base = DailyGrid.mean(s, d)
        .select(col("event_type"), col("y"))
        .withColumn("l", dense_rank().over(Window.orderBy("event_type"))
          .cast("long"))
        .withColumn("r2", rank().over(wy).cast("long") * 2
          + count(lit(1)).over(wty) - 1)
      val ties = base.groupBy("y").agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * col("c") * col("c") - col("c")).as("tsum"))
      base.agg(count(lit(1)).as("n"), sum(col("l") * col("r2")).as("t2"),
          sum("l").as("sl"), sum(col("l") * col("l")).as("sl2"))
        .crossJoin(ties)
        .select(col("n").as("n_total"), col("t2").as("t2_stat"),
          round((col("t2") - (col("n") + 1) * col("sl")) / 2.0
            / sqrt((col("n") + 1)
              * (col("n") * col("sl2") - col("sl") * col("sl"))
              / (col("n") * 12.0)
              * (lit(1.0) - col("tsum")
                / (col("n").cast("double") * col("n") * col("n")
                  - col("n")))), 4).as("z"))
    }),

    // Standard normal homogeneity test (SNHT) per type: reuses the
    // Buishand cleared deviation D_t = n·P_t − t·M; T_t collapses to
    // D_t²·n/(t·(n−t)·(n·Σy²−M²)) — exact longs until the ONE double
    // chain per day row; K = max T, t* the first argmax day.
    "q_snht" -> ((s, d) => {
      val tt = DailyGrid.mean(s, d)
        .withColumn("n", count(lit(1)).over(wp))
        .withColumn("m", sum("y").over(wp))
        .withColumn("ss", sum(col("y") * col("y")).over(wp))
        .withColumn("p", sum("y").over(
          wo.rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("i") < col("n")
          && col("n") * col("ss") > col("m") * col("m"))
        .withColumn("dd", col("n") * col("p") - col("i") * col("m"))
        .withColumn("t_t", col("dd").cast("double") * col("dd") * col("n")
          / (col("i") * (col("n") - col("i"))
            * (col("n") * col("ss") - col("m") * col("m"))
              .cast("double")))
        .withColumn("mx", max("t_t").over(wp))
      tt.filter(col("t_t") === col("mx"))
        .groupBy("event_type")
        .agg(max("n").as("n_days"), min("d").as("t_star"),
          round(max("mx"), 4).as("t_stat"))
        .orderBy("event_type")
    }),

    // Lo–MacKinlay variance ratio VR(5) per type on µ-snapped daily
    // log returns: cleared deviations D = n·x − (q·)M are exact longs
    // and so are their squares, but the SUM of squares would wrap a
    // long — summed as decimal(38,0) (Spark) / HUGEINT (DuckDB),
    // both exact, both cast to double only for the final ratio.
    "q_variance_ratio" -> ((s, d) => {
      val w5 = wo.rowsBetween(-4, 0)
      val r = DailyGrid.ret(s, d)
        .withColumn("n", count(lit(1)).over(wp))
        .withColumn("m", sum("r_u").over(wp))
        .withColumn("s5", sum("r_u").over(w5))
        .withColumn("n5", count(lit(1)).over(w5))
        .withColumn("d1", col("n") * col("r_u") - col("m"))
        .withColumn("dq", when(col("n5") === 5,
          col("n") * col("s5") - col("m") * 5L))
      r.groupBy("event_type")
        .agg(max("n").as("n_ret"),
          sum((col("d1") * col("d1")).cast("decimal(38,0)")).as("s1"),
          sum((col("dq") * col("dq")).cast("decimal(38,0)")).as("sq"),
          sum(when(col("dq").isNotNull, 1L).otherwise(0L)).as("m_overlap"))
        .filter(col("s1") > 0 && col("m_overlap") > 0)
        .select(col("event_type"), col("n_ret"), col("m_overlap"),
          round(col("sq").cast("double") * col("n_ret")
            / (col("m_overlap") * 5.0 * col("s1").cast("double")), 6)
            .as("vr5"))
        .orderBy("event_type")
    }),

    // Dixon's Q per type on the daily milli means: gap/range for both
    // ends from the exact order statistics y_(1), y_(2), y_(n−1),
    // y_(n) — pure rationals, ties broken by day (stated).
    "q_dixon_q" -> ((s, d) => {
      val wa = wo.orderBy("y", "d")
      val wd2 = wo.orderBy(col("y").desc, col("d").desc)
      DailyGrid.mean(s, d)
        .withColumn("ra", row_number().over(wa).cast("long"))
        .withColumn("rd", row_number().over(wd2).cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          min("y").as("y_min"), max("y").as("y_max"),
          max(when(col("ra") === 2, col("y"))).as("y2"),
          max(when(col("rd") === 2, col("y"))).as("yn1"))
        .filter(col("y_max") > col("y_min"))
        .select(col("event_type"), col("n_days"),
          round((col("y_max") - col("yn1")).cast("double")
            / (col("y_max") - col("y_min")), 6).as("q_high"),
          round((col("y2") - col("y_min")).cast("double")
            / (col("y_max") - col("y_min")), 6).as("q_low"))
        .orderBy("event_type")
    }),

    // Page's L trend test: blocks = calendar weeks containing ALL k
    // types, weekly milli mean per (type, week) by exact integer
    // division, within-block ranks with the STATED alphabetical
    // tie-break (a deterministic total order — no midranks), L =
    // Σ rank·l against the classical no-ties moments.
    "q_page_trend" -> ((s, d) => {
      val wk = DailyGrid.mean(s, d)
        .groupBy(col("event_type"), date_trunc("week", col("d")).as("w"))
        .agg(sum("y").as("sy"), count(lit(1)).as("cd"))
        .withColumn("wv", expr("sy div cd"))
      val k = wk.select(countDistinct("event_type")).first().getLong(0)
      val full = wk.groupBy("w").agg(count(lit(1)).as("nt"))
        .filter(col("nt") === k).select("w")
      val ranked = wk.join(full, "w")
        .withColumn("l", dense_rank()
          .over(Window.orderBy("event_type")).cast("long"))
        .withColumn("r", row_number().over(
          Window.partitionBy("w").orderBy("wv", "event_type"))
          .cast("long"))
      ranked.agg((count(lit(1)) / lit(k)).cast("long").as("b"),
          sum(col("l") * col("r")).as("l_stat"))
        .select(col("b").as("n_blocks"), col("l_stat"),
          round((col("l_stat") - col("b") * lit(k * (k + 1) * (k + 1))
              / 4.0)
            / sqrt(col("b") * lit((k * k * k - k).toDouble)
              * lit((k * k * k - k).toDouble) / lit((k - 1) * 144.0)),
            4).as("z"))
    })
  )

  val oracle: Map[String, String] = Map(
    // identical doubled midrank scores and CASE moments
    "q_ansari_bradley" ->
      s"""WITH $dmCte,
        |pr AS (
        |  SELECT a.t1, b.t2 FROM
        |    (SELECT DISTINCT event_type AS t1 FROM dm) a,
        |    (SELECT DISTINCT event_type AS t2 FROM dm) b
        |  WHERE a.t1 < b.t2),
        |pl AS (
        |  SELECT pr.t1, pr.t2, dm.event_type, dm.y
        |  FROM pr JOIN dm
        |    ON dm.event_type = pr.t1 OR dm.event_type = pr.t2),
        |sc AS (
        |  SELECT t1, t2, event_type,
        |    CAST(COUNT(*) OVER (PARTITION BY t1, t2) AS BIGINT) AS nn,
        |    LEAST(
        |      CAST(rank() OVER (PARTITION BY t1, t2 ORDER BY y)
        |        AS BIGINT) * 2
        |        + CAST(COUNT(*) OVER (PARTITION BY t1, t2, y)
        |          AS BIGINT) - 1,
        |      (CAST(COUNT(*) OVER (PARTITION BY t1, t2) AS BIGINT) + 1)
        |        * 2
        |        - (CAST(rank() OVER (PARTITION BY t1, t2 ORDER BY y)
        |          AS BIGINT) * 2
        |          + CAST(COUNT(*) OVER (PARTITION BY t1, t2, y)
        |            AS BIGINT) - 1)) AS s2
        |  FROM pl),
        |ag AS (
        |  SELECT t1, t2, MAX(nn) AS nn,
        |    CAST(SUM(CASE WHEN event_type = t1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN event_type = t2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN event_type = t1 THEN s2 ELSE 0 END)
        |      AS BIGINT) AS ab2
        |  FROM sc GROUP BY 1, 2)
        |SELECT t1, t2, n1, n2, ab2,
        |  ROUND((ab2 / 2.0
        |    - CASE WHEN nn % 2 = 0 THEN n1 * (nn + 2) / 4.0
        |        ELSE n1 * (nn + 1) * (nn + 1) / (nn * 4.0) END)
        |    / sqrt(CASE WHEN nn % 2 = 0
        |        THEN n1 * n2 * (nn + 2) * (nn - 2) / ((nn - 1) * 48.0)
        |        ELSE n1 * n2 * (nn + 1) * (nn * nn + 3)
        |          / (nn * nn * 48.0) END), 4) AS z
        |FROM ag ORDER BY t1, t2""".stripMargin,

    // identical doubled midranks × dense index and tie correction
    "q_cuzick_trend" ->
      s"""WITH $dmCte,
        |base AS (
        |  SELECT event_type, y,
        |    CAST(dense_rank() OVER (ORDER BY event_type) AS BIGINT) AS l,
        |    CAST(rank() OVER (ORDER BY y) AS BIGINT) * 2
        |      + CAST(COUNT(*) OVER (PARTITION BY y) AS BIGINT) - 1 AS r2
        |  FROM dm),
        |tc AS (
        |  SELECT CAST(SUM(c * c * c - c) AS BIGINT) AS tsum
        |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c
        |        FROM base GROUP BY y)),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(l * r2) AS BIGINT) AS t2,
        |    CAST(SUM(l) AS BIGINT) AS sl,
        |    CAST(SUM(l * l) AS BIGINT) AS sl2
        |  FROM base)
        |SELECT ag.n AS n_total, ag.t2 AS t2_stat,
        |  ROUND((ag.t2 - (ag.n + 1) * ag.sl) / 2.0
        |    / sqrt((ag.n + 1) * (ag.n * ag.sl2 - ag.sl * ag.sl)
        |      / (ag.n * 12.0)
        |      * (1.0 - tc.tsum
        |        / (CAST(ag.n AS DOUBLE) * ag.n * ag.n - ag.n))), 4)
        |    AS z
        |FROM ag, tc""".stripMargin,

    // identical cleared D_t and single-chain T_t
    "q_snht" ->
      s"""WITH $dmCte,
        |idx AS (
        |  SELECT event_type, d, y,
        |    CAST(row_number() OVER wd AS BIGINT) AS i,
        |    CAST(COUNT(*) OVER wp AS BIGINT) AS n,
        |    CAST(SUM(y) OVER wp AS BIGINT) AS m,
        |    CAST(SUM(y * y) OVER wp AS BIGINT) AS ss,
        |    CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS p
        |  FROM dm
        |  WINDOW wd AS (PARTITION BY event_type ORDER BY d),
        |    wp AS (PARTITION BY event_type)),
        |tt AS (
        |  SELECT event_type, d, n,
        |    CAST(n * p - i * m AS DOUBLE) * (n * p - i * m) * n
        |      / (i * (n - i) * CAST(n * ss - m * m AS DOUBLE)) AS t_t
        |  FROM idx
        |  WHERE i < n AND n * ss > m * m),
        |mx AS (
        |  SELECT event_type, d, n, t_t,
        |    MAX(t_t) OVER (PARTITION BY event_type) AS m
        |  FROM tt)
        |SELECT event_type, MAX(n) AS n_days, MIN(d) AS t_star,
        |  ROUND(MAX(m), 4) AS t_stat
        |FROM mx WHERE t_t = m GROUP BY 1 ORDER BY event_type""".stripMargin,

    // identical cleared deviations; HUGEINT sum mirrors decimal(38)
    "q_variance_ratio" ->
      s"""WITH ${DailyGrid.retCte},
        |w AS (
        |  SELECT event_type, r_u,
        |    CAST(COUNT(*) OVER wp AS BIGINT) AS n,
        |    CAST(SUM(r_u) OVER wp AS BIGINT) AS m,
        |    CAST(SUM(r_u) OVER w5 AS BIGINT) AS s5,
        |    COUNT(*) OVER w5 AS n5
        |  FROM ret
        |  WINDOW wp AS (PARTITION BY event_type),
        |    w5 AS (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)),
        |ag AS (
        |  SELECT event_type, MAX(n) AS n_ret,
        |    SUM((n * r_u - m) * (n * r_u - m)) AS s1,
        |    SUM(CASE WHEN n5 = 5
        |      THEN (n * s5 - m * 5) * (n * s5 - m * 5) END) AS sq,
        |    CAST(SUM(CASE WHEN n5 = 5 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS m_overlap
        |  FROM w GROUP BY 1)
        |SELECT event_type, n_ret, m_overlap,
        |  ROUND(CAST(sq AS DOUBLE) * n_ret
        |    / (m_overlap * 5.0 * CAST(s1 AS DOUBLE)), 6) AS vr5
        |FROM ag WHERE s1 > 0 AND m_overlap > 0
        |ORDER BY event_type""".stripMargin,

    // identical order-statistic rationals
    "q_dixon_q" ->
      s"""WITH $dmCte,
        |rk AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY y, d) AS BIGINT) AS ra,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY y DESC, d DESC) AS BIGINT) AS rd
        |  FROM dm),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    MIN(y) AS y_min, MAX(y) AS y_max,
        |    MAX(CASE WHEN ra = 2 THEN y END) AS y2,
        |    MAX(CASE WHEN rd = 2 THEN y END) AS yn1
        |  FROM rk GROUP BY 1)
        |SELECT event_type, n_days,
        |  ROUND(CAST(y_max - yn1 AS DOUBLE) / (y_max - y_min), 6)
        |    AS q_high,
        |  ROUND(CAST(y2 - y_min AS DOUBLE) / (y_max - y_min), 6)
        |    AS q_low
        |FROM ag WHERE y_max > y_min ORDER BY event_type""".stripMargin,

    // identical weekly integer-div values and alphabetical tie-break
    "q_page_trend" ->
      s"""WITH $dmCte,
        |wk AS (
        |  SELECT event_type, date_trunc('week', d) AS w,
        |    CAST(SUM(y) // COUNT(*) AS BIGINT) AS wv
        |  FROM dm GROUP BY 1, 2),
        |kk AS (SELECT COUNT(DISTINCT event_type) AS k FROM wk),
        |full_w AS (
        |  SELECT w FROM wk, kk GROUP BY w, kk.k
        |  HAVING COUNT(*) = kk.k),
        |rkd AS (
        |  SELECT wk.event_type, wk.w, wk.wv,
        |    CAST(dense_rank() OVER (ORDER BY wk.event_type) AS BIGINT)
        |      AS l,
        |    CAST(row_number() OVER (PARTITION BY wk.w
        |      ORDER BY wk.wv, wk.event_type) AS BIGINT) AS r
        |  FROM wk JOIN full_w ON wk.w = full_w.w),
        |ag AS (
        |  SELECT CAST(COUNT(*) / ANY_VALUE(kk.k) AS BIGINT) AS b,
        |    CAST(SUM(l * r) AS BIGINT) AS l_stat,
        |    ANY_VALUE(kk.k) AS k
        |  FROM rkd, kk)
        |SELECT b AS n_blocks, l_stat,
        |  ROUND((l_stat - b * (k * (k + 1) * (k + 1)) / 4.0)
        |    / sqrt(b * CAST(k * k * k - k AS DOUBLE)
        |      * CAST(k * k * k - k AS DOUBLE) / ((k - 1) * 144.0)), 4)
        |    AS z
        |FROM ag""".stripMargin
  )
}
