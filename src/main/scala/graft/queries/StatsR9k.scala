package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-9 wave 11, batch half (SURVEY.md §2 B.10b): benchmark
  * capture ratios and two exact-rank goodness-of-fit tests — up/down
  * capture vs the pooled market leg (sum-ratio convention, stated),
  * the two-sample Cramér–von Mises T from distinct integer ranks
  * (the (y, event_type, d) total order removes ties by construction),
  * and the k-sample Anderson–Darling A² with per-position terms
  * snapped to 1e6 before the exact sums. The streaming half of this
  * wave lives in streaming/StreamState.scala (s_stream_funnel /
  * s_stream_drawdown / s_stream_gap_alarm).
  */
object StatsR9k {

  import DailyGrid.dmCte

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Up/down capture vs the pooled market series: on market-up days
    // capture = Σr/Σrm (the sum-ratio convention — stated), likewise
    // down; the ratio of the two closes the row. Exact long sums,
    // three divisions on bounded rows.
    "q_updown_capture" -> ((s, d) => {
      DailyGrid.ret(s, d).join(broadcast(DailyGrid.marketRet(s, d)), "d")
        .groupBy("event_type")
        .agg(sum(when(col("rm_u") > 0, 1L).otherwise(0L)).as("n_up"),
          sum(when(col("rm_u") > 0, col("r_u")).otherwise(0L)).as("su"),
          sum(when(col("rm_u") > 0, col("rm_u")).otherwise(0L)).as("smu"),
          sum(when(col("rm_u") < 0, 1L).otherwise(0L)).as("n_down"),
          sum(when(col("rm_u") < 0, col("r_u")).otherwise(0L)).as("sd"),
          sum(when(col("rm_u") < 0, col("rm_u")).otherwise(0L)).as("smd"))
        .filter(col("smu") > 0 && col("smd") < 0 && col("sd") =!= 0)
        .select(col("event_type"), col("n_up"), col("n_down"),
          round(col("su").cast("double") / col("smu"), 4)
            .as("up_capture"),
          round(col("sd").cast("double") / col("smd"), 4)
            .as("down_capture"),
          round(col("su").cast("double") * col("smd")
            / (col("smu").cast("double") * col("sd")), 4)
            .as("capture_ratio"))
        .orderBy("event_type")
    }),

    // Two-sample Cramér–von Mises for every type pair on daily milli
    // means: the (y, event_type, d) total order makes pooled ranks
    // DISTINCT integers, so U = n·Σ(r−i)² + m·Σ(s−j)² is exact and
    // T = U/(nmN) − (4mn−1)/(6N) is one identical chain.
    "q_cvm_test" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d).select(col("event_type"), col("d"), col("y"))
      val pairs = dm.select(col("event_type").as("t1")).distinct()
        .join(dm.select(col("event_type").as("t2")).distinct(),
          col("t1") < col("t2"))
      val pooled = pairs.join(dm, col("event_type") === col("t1")
        || col("event_type") === col("t2"))
      val wpair = Window.partitionBy("t1", "t2")
      val ranked = pooled
        .withColumn("r", row_number().over(
          wpair.orderBy("y", "event_type", "d")).cast("long"))
        .withColumn("i", row_number().over(
          Window.partitionBy("t1", "t2", "event_type")
            .orderBy("y", "d")).cast("long"))
      ranked.groupBy("t1", "t2")
        .agg(sum(when(col("event_type") === col("t1"), 1L).otherwise(0L))
            .as("n"),
          sum(when(col("event_type") === col("t2"), 1L).otherwise(0L))
            .as("m"),
          sum(when(col("event_type") === col("t1"),
            (col("r") - col("i")) * (col("r") - col("i")))
            .otherwise(0L)).as("u1"),
          sum(when(col("event_type") === col("t2"),
            (col("r") - col("i")) * (col("r") - col("i")))
            .otherwise(0L)).as("u2"))
        .select(col("t1"), col("t2"), col("n"), col("m"),
          round((col("n") * col("u1") + col("m") * col("u2"))
              .cast("double")
              / (col("n") * col("m") * (col("n") + col("m")))
            - (col("n") * col("m") * 4 - 1).cast("double")
              / ((col("n") + col("m")) * 6), 6).as("t_stat"))
        .orderBy("t1", "t2")
    }),

    // k-sample Anderson–Darling on daily milli means (the Scholz–
    // Stephens continuous-case A², stated with the (y, event_type, d)
    // total-order tie-break): the (group × position) grid is bounded
    // (k·days), per-position terms (N·M_gi − i·n_g)²/(i(N−i)) snap to
    // 1e6, per-group sums snap once more before the exact final sum.
    "q_ad_ksample" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d)
        .select(col("event_type"), col("d"), col("y"))
        .withColumn("i", row_number().over(
          Window.orderBy("y", "event_type", "d")).cast("long"))
        .localCheckpoint(eager = true) // bounded day grid, 2 legs
      val nTot = dm.count()
      val types = dm.select(col("event_type").as("g")).distinct()
      val sizes = dm.groupBy(col("event_type").as("g"))
        .agg(count(lit(1)).as("ng"))
      val grid = dm.crossJoin(types)
        .withColumn("mgi", sum(when(col("event_type") === col("g"), 1L)
          .otherwise(0L)).over(
          Window.partitionBy("g").orderBy("i")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("i") < nTot)
        .join(broadcast(sizes), "g")
        .select(col("g"), col("ng"),
          round((lit(nTot) * col("mgi") - col("i") * col("ng"))
            * (lit(nTot) * col("mgi") - col("i") * col("ng"))
            * lit(1e6)
            / (col("i") * (lit(nTot) - col("i"))))
            .cast("long").as("term_u"))
      grid.groupBy("g", "ng").agg(sum("term_u").as("su"))
        .select(round(col("su").cast("double") / col("ng"))
          .cast("long").as("a_u"))
        .agg(count(lit(1)).as("k_groups"), sum("a_u").as("sa"))
        .select(col("k_groups"), lit(nTot).as("n_total"),
          round(col("sa").cast("double") / (lit(1e6) * lit(nTot)), 4)
            .as("a2_stat"))
    })
  )

  val oracle: Map[String, String] = Map(
    // identical market leg and sum-ratio captures
    "q_updown_capture" ->
      s"""WITH ${DailyGrid.retCte},
        |mk AS (
        |  SELECT d,
        |    CAST(ROUND(ln(CAST(my AS DOUBLE) / pmy) * 1e6) AS BIGINT)
        |      AS rm_u
        |  FROM (SELECT d, my,
        |          lag(my) OVER (ORDER BY d) AS pmy
        |        FROM (SELECT CAST(ts AS DATE) AS d,
        |                CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT))
        |                  // COUNT(*) AS BIGINT) AS my
        |              FROM events GROUP BY 1))
        |  WHERE pmy IS NOT NULL),
        |ag AS (
        |  SELECT ret.event_type,
        |    CAST(SUM(CASE WHEN rm_u > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_up,
        |    CAST(SUM(CASE WHEN rm_u > 0 THEN r_u ELSE 0 END) AS BIGINT)
        |      AS su,
        |    CAST(SUM(CASE WHEN rm_u > 0 THEN rm_u ELSE 0 END)
        |      AS BIGINT) AS smu,
        |    CAST(SUM(CASE WHEN rm_u < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_down,
        |    CAST(SUM(CASE WHEN rm_u < 0 THEN r_u ELSE 0 END) AS BIGINT)
        |      AS sd,
        |    CAST(SUM(CASE WHEN rm_u < 0 THEN rm_u ELSE 0 END)
        |      AS BIGINT) AS smd
        |  FROM ret JOIN mk ON ret.d = mk.d
        |  GROUP BY 1)
        |SELECT event_type, n_up, n_down,
        |  ROUND(CAST(su AS DOUBLE) / smu, 4) AS up_capture,
        |  ROUND(CAST(sd AS DOUBLE) / smd, 4) AS down_capture,
        |  ROUND(CAST(su AS DOUBLE) * smd / (CAST(smu AS DOUBLE) * sd),
        |    4) AS capture_ratio
        |FROM ag WHERE smu > 0 AND smd < 0 AND sd <> 0
        |ORDER BY event_type""".stripMargin,

    // identical distinct-rank U and one chain
    "q_cvm_test" ->
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
        |  SELECT t1, t2, event_type,
        |    CAST(row_number() OVER (PARTITION BY t1, t2
        |      ORDER BY y, event_type, d) AS BIGINT) AS r,
        |    CAST(row_number() OVER (PARTITION BY t1, t2, event_type
        |      ORDER BY y, d) AS BIGINT) AS i
        |  FROM pl),
        |ag AS (
        |  SELECT t1, t2,
        |    CAST(SUM(CASE WHEN event_type = t1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN event_type = t2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS m,
        |    CAST(SUM(CASE WHEN event_type = t1
        |      THEN (r - i) * (r - i) ELSE 0 END) AS BIGINT) AS u1,
        |    CAST(SUM(CASE WHEN event_type = t2
        |      THEN (r - i) * (r - i) ELSE 0 END) AS BIGINT) AS u2
        |  FROM rk GROUP BY 1, 2)
        |SELECT t1, t2, n, m,
        |  ROUND(CAST(n * u1 + m * u2 AS DOUBLE) / (n * m * (n + m))
        |    - CAST(n * m * 4 - 1 AS DOUBLE) / ((n + m) * 6), 6)
        |    AS t_stat
        |FROM ag ORDER BY t1, t2""".stripMargin,

    // identical snapped per-position and per-group terms
    "q_ad_ksample" ->
      s"""WITH $dmCte,
        |idx AS (
        |  SELECT event_type, d, y,
        |    CAST(row_number() OVER (ORDER BY y, event_type, d)
        |      AS BIGINT) AS i
        |  FROM dm),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM idx),
        |gs AS (SELECT event_type AS g, CAST(COUNT(*) AS BIGINT) AS ng
        |       FROM idx GROUP BY 1),
        |grid AS (
        |  SELECT idx.i, idx.event_type, tg.g,
        |    CAST(SUM(CASE WHEN idx.event_type = tg.g THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY tg.g ORDER BY idx.i
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS mgi
        |  FROM idx CROSS JOIN (SELECT DISTINCT event_type AS g FROM idx)
        |    tg),
        |tm AS (
        |  SELECT grid.g, gs.ng,
        |    CAST(ROUND((nn.n * grid.mgi - grid.i * gs.ng)
        |      * (nn.n * grid.mgi - grid.i * gs.ng) * 1e6
        |      / (grid.i * (nn.n - grid.i))) AS BIGINT) AS term_u
        |  FROM grid
        |  JOIN gs ON grid.g = gs.g
        |  CROSS JOIN nn
        |  WHERE grid.i < nn.n),
        |pg AS (
        |  SELECT CAST(ROUND(CAST(SUM(term_u) AS DOUBLE) / ng)
        |    AS BIGINT) AS a_u
        |  FROM tm GROUP BY g, ng)
        |SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
        |  (SELECT n FROM nn) AS n_total,
        |  ROUND(CAST(SUM(a_u) AS BIGINT)
        |    / (1e6 * (SELECT n FROM nn)), 4) AS a2_stat
        |FROM pg""".stripMargin
  )
}
