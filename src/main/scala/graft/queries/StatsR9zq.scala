package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-9 wave 44 (SURVEY.md §2 B.10b): psychological price-ending
  * profiling with a uniformity χ², click→view→purchase subsequence
  * (motif) counting via two cumulative windows — never an
  * enumeration — naive-forecast WAPE/sMAPE, the Nemenyi post-hoc on
  * Friedman average ranks with an EXACT squared critical-difference
  * comparison (q=2.728 = 2728/1000, stated), a negative-binomial
  * method-of-moments fit of per-user activity, and pairwise audience
  * overlap between event types.
  */
object StatsR9zq {

  import DailyGrid.wo

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Price endings: cents mod 100 of the retail price; χ² against
    // uniform over the 100 endings collapses to 100·Σo²/n − n.
    "q_price_endings" -> ((s, d) => {
      val e = Tables.part(s, d)
        .select((round(col("p_retailprice") * 100).cast("long") % 100)
          .as("ending"))
        .groupBy("ending").agg(count(lit(1)).as("o"))
        .localCheckpoint(eager = true)
      val tot = e.agg(sum("o").as("n"),
        sum(col("o") * col("o")).as("so2"))
      val top = e.orderBy(col("o").desc, col("ending").asc).limit(1)
        .select(col("ending").as("top_ending"),
          col("o").as("top_count"))
      tot.crossJoin(top)
        .select(col("n").as("n_parts"),
          round(lit(100.0) * col("so2") / col("n") - col("n"), 6)
            .as("chi2_uniform"),
          col("top_ending"), col("top_count"))
    }),

    // click<view<purchase subsequence count per user via two
    // cumulative windows (clicks-before at each view; that sum
    // before each purchase) — O(events) work, no enumeration.
    "q_motif_cvp" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("tu", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val base = Tables.events(s, d)
        .filter(col("event_type").isin("click", "view", "purchase"))
        .select(col("user_id"), unix_micros(col("ts")).as("tu"),
          col("event_id"), col("event_type"))
        .withColumn("c_before", coalesce(sum(
          when(col("event_type") === "click", 1L).otherwise(0L))
          .over(w), lit(0L)))
        .withColumn("pairs_at_view",
          when(col("event_type") === "view", col("c_before"))
            .otherwise(0L))
        .withColumn("pairs_before",
          coalesce(sum("pairs_at_view").over(w), lit(0L)))
      base.filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum("pairs_before").as("motifs"))
        .agg(sum(when(col("motifs") > 0, 1L).otherwise(0L))
          .as("n_users_with_motif"),
          sum("motifs").as("total_motifs"),
          max("motifs").as("max_user_motifs"))
    }),

    // WAPE and sMAPE of the naive one-step forecast on the daily
    // milli-mean: WAPE exact longs; per-row sMAPE term snapped 1e9.
    "q_wape_smape" -> ((s, d) => {
      DailyGrid.mean(s, d)
        .withColumn("py", lag("y", 1).over(wo))
        .filter(col("py").isNotNull)
        .withColumn("ae", abs(col("y") - col("py")))
        .withColumn("sm_u", round(col("ae") * lit(2e9)
          / (abs(col("y")) + abs(col("py")))).cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("ae").as("sae"),
          sum(abs(col("y"))).as("say"), sum("sm_u").as("ssm"))
        .filter(col("say") > 0)
        .select(col("event_type"), col("n").as("n_forecasts"),
          round(col("sae").cast("double") / col("say"), 6).as("wape"),
          round(col("ssm").cast("double") / col("n") / 1e9, 6)
            .as("smape"))
        .orderBy("event_type")
    }),

    // Nemenyi post-hoc on Friedman mean ranks (types ranked within
    // days, doubled midranks): pair significant iff 3e6·(ΣR2_a −
    // ΣR2_b)² > 7441984·4·n·k(k+1)·n... cleared exactly as
    // 1e6·3·d² > q²·1e6·(2n)²·k(k+1)/(12n)·3 — spelled identically
    // both engines (derivation in the row; q=2.728).
    "q_nemenyi" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d)
      val rk = dm.select(col("d").as("d1"), col("event_type").as("t1"),
          col("y").as("y1"))
        .join(dm.select(col("d").as("d1"), col("event_type").as("t2"),
          col("y").as("y2")), "d1")
        .groupBy("t1", "d1")
        .agg((lit(2L) * sum(when(col("y2") < col("y1"), 1L)
          .otherwise(0L))
          + sum(when(col("y2") === col("y1"), 1L).otherwise(0L))
          + lit(1L)).as("r2"))
      val sums = rk.groupBy("t1")
        .agg(count(lit(1)).as("n"), sum("r2").as("sr2"))
        .localCheckpoint(eager = true)
      val k = sums.count()
      sums.select(col("t1").as("ta"), col("n"), col("sr2").as("sa"))
        .join(sums.select(col("t1").as("tb"), col("sr2").as("sb")),
          col("ta") < col("tb"))
        .select(col("ta"), col("tb"),
          round(abs(col("sa") - col("sb")).cast("double")
            / (lit(2L) * col("n")), 6).as("mean_rank_diff"),
          // cleared: (|d2|/(2n))² > q²·k(k+1)/(12n)
          //  ⇔ 3e6·d2² > 7441984·n·k(k+1)  (q²=7.441984)
          (lit(3000000L) * (col("sa") - col("sb"))
            * (col("sa") - col("sb"))
            > lit(7441984L) * col("n") * lit(k * (k + 1)))
            .as("significant"))
        .orderBy("ta", "tb")
    }),

    // Negative-binomial MoM fit of per-user event counts:
    // p = m/v, r = m²/(v−m), sample variance, gated v > m.
    "q_nbd_fit" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("user_id").agg(count(lit(1)).as("k"))
        .agg(count(lit(1)).as("n"), sum("k").as("sk"),
          sum(col("k") * col("k")).as("skk"))
        .withColumn("m", col("sk").cast("double") / col("n"))
        .withColumn("v", (col("n") * col("skk")
          - col("sk") * col("sk")).cast("double")
          / (col("n").cast("double") * (col("n") - 1)))
        .filter(col("n") > 1 && col("v") > col("m"))
        .select(col("n").as("n_users"),
          round(col("m"), 6).as("mean_events"),
          round(col("v"), 6).as("var_events"),
          round(col("m") * col("m") / (col("v") - col("m")), 6)
            .as("nbd_r"),
          round(col("m") / col("v"), 6).as("nbd_p"))
    }),

    // Audience overlap between event types: per-pair Jaccard of user
    // sets and the independence lift n·|A∩B|/(|A|·|B|).
    "q_audience_overlap" -> ((s, d) => {
      val tu = Tables.events(s, d)
        .select(col("event_type").as("t"), col("user_id").as("u"))
        .distinct().localCheckpoint(eager = true)
      val sz = tu.groupBy("t").agg(count(lit(1)).as("nu"))
      val nAll = Tables.events(s, d).agg(countDistinct("user_id")
        .as("n_users"))
      val inter = tu.select(col("t").as("ta"), col("u"))
        .join(tu.select(col("t").as("tb"), col("u")), "u")
        .filter(col("ta") < col("tb"))
        .groupBy("ta", "tb").agg(count(lit(1)).as("both"))
      inter
        .join(sz.select(col("t").as("ta"), col("nu").as("na")), "ta")
        .join(sz.select(col("t").as("tb"), col("nu").as("nb")), "tb")
        .crossJoin(broadcast(nAll))
        .select(col("ta"), col("tb"), col("both"),
          round(col("both").cast("double")
            / (col("na") + col("nb") - col("both")), 6).as("jaccard"),
          round(col("n_users").cast("double") * col("both")
            / (col("na").cast("double") * col("nb")), 6).as("lift"))
        .orderBy("ta", "tb")
    })
  )

  val oracle: Map[String, String] = Map(
    // identical collapsed uniform χ²
    "q_price_endings" ->
      """WITH e AS (
        |  SELECT CAST(ROUND(p_retailprice * 100) AS BIGINT) % 100
        |      AS ending,
        |    CAST(COUNT(*) AS BIGINT) AS o
        |  FROM part GROUP BY 1),
        |tot AS (SELECT SUM(o) AS n, SUM(o * o) AS so2 FROM e),
        |top AS (
        |  SELECT ending AS top_ending, o AS top_count FROM e
        |  ORDER BY o DESC, ending ASC LIMIT 1)
        |SELECT CAST(n AS BIGINT) AS n_parts,
        |  ROUND(100.0 * so2 / n - n, 6) AS chi2_uniform,
        |  top_ending, top_count
        |FROM tot, top""".stripMargin,

    // identical two-window subsequence counting
    "q_motif_cvp" ->
      """WITH base AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tu, event_id
        |  FROM events
        |  WHERE event_type IN ('click', 'view', 'purchase')),
        |cb AS (
        |  SELECT *,
        |    COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1
        |      ELSE 0 END) OVER (PARTITION BY user_id
        |      ORDER BY tu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS c_before
        |  FROM base),
        |pv AS (
        |  SELECT *,
        |    CASE WHEN event_type = 'view' THEN c_before ELSE 0 END
        |      AS pairs_at_view
        |  FROM cb),
        |pb AS (
        |  SELECT *,
        |    COALESCE(SUM(pairs_at_view) OVER (PARTITION BY user_id
        |      ORDER BY tu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS pairs_before
        |  FROM pv),
        |per AS (
        |  SELECT user_id, SUM(pairs_before) AS motifs
        |  FROM pb WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT
        |  CAST(SUM(CASE WHEN motifs > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_users_with_motif,
        |  CAST(SUM(motifs) AS BIGINT) AS total_motifs,
        |  CAST(MAX(motifs) AS BIGINT) AS max_user_motifs
        |FROM per""".stripMargin,

    // identical exact WAPE + snapped sMAPE
    "q_wape_smape" ->
      (s"WITH ${DailyGrid.dmCte}," +
      """
        |lg AS (
        |  SELECT event_type, y,
        |    lag(y) OVER (PARTITION BY event_type ORDER BY d) AS py
        |  FROM dm),
        |f AS (
        |  SELECT event_type, ABS(y - py) AS ae, ABS(y) AS ay,
        |    CAST(ROUND(ABS(y - py) * 2e9
        |      / (ABS(y) + ABS(py))) AS BIGINT) AS sm_u
        |  FROM lg WHERE py IS NOT NULL)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_forecasts,
        |  ROUND(CAST(SUM(ae) AS DOUBLE) / SUM(ay), 6) AS wape,
        |  ROUND(CAST(SUM(sm_u) AS DOUBLE) / COUNT(*) / 1e9, 6)
        |    AS smape
        |FROM f GROUP BY 1 HAVING SUM(ay) > 0
        |ORDER BY event_type""".stripMargin),

    // identical doubled ranks and squared-CD clearing
    "q_nemenyi" ->
      (s"WITH ${DailyGrid.dmCte}," +
      """
        |rk AS (
        |  SELECT a.event_type AS t1, a.d,
        |    2 * SUM(CASE WHEN b.y < a.y THEN 1 ELSE 0 END)
        |      + SUM(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) + 1 AS r2
        |  FROM dm a JOIN dm b ON a.d = b.d
        |  GROUP BY a.event_type, a.d, a.y),
        |sums AS (
        |  SELECT t1, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(r2) AS BIGINT) AS sr2
        |  FROM rk GROUP BY 1),
        |k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM sums)
        |SELECT a.t1 AS ta, b.t1 AS tb,
        |  ROUND(CAST(ABS(a.sr2 - b.sr2) AS DOUBLE) / (2 * a.n), 6)
        |    AS mean_rank_diff,
        |  3000000 * (a.sr2 - b.sr2) * (a.sr2 - b.sr2)
        |    > 7441984 * a.n * (k.k * (k.k + 1)) AS significant
        |FROM sums a, sums b, k
        |WHERE a.t1 < b.t1
        |ORDER BY ta, tb""".stripMargin),

    // identical MoM chain
    "q_nbd_fit" ->
      """WITH per AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM events GROUP BY 1),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(k) AS sk,
        |    SUM(k * k) AS skk
        |  FROM per),
        |st AS (
        |  SELECT n,
        |    CAST(sk AS DOUBLE) / n AS m,
        |    CAST(n * skk - sk * sk AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (n - 1)) AS v
        |  FROM ag WHERE n > 1)
        |SELECT n AS n_users, ROUND(m, 6) AS mean_events,
        |  ROUND(v, 6) AS var_events,
        |  ROUND(m * m / (v - m), 6) AS nbd_r,
        |  ROUND(m / v, 6) AS nbd_p
        |FROM st WHERE v > m""".stripMargin,

    // identical distinct-user set overlaps
    "q_audience_overlap" ->
      """WITH tu AS (
        |  SELECT DISTINCT event_type AS t, user_id AS u FROM events),
        |sz AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS nu
        |       FROM tu GROUP BY 1),
        |na AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT)
        |         AS n_users FROM events),
        |iv AS (
        |  SELECT a.t AS ta, b.t AS tb,
        |    CAST(COUNT(*) AS BIGINT) AS both
        |  FROM tu a JOIN tu b ON a.u = b.u AND a.t < b.t
        |  GROUP BY 1, 2)
        |SELECT iv.ta, iv.tb, iv.both,
        |  ROUND(CAST(iv.both AS DOUBLE)
        |    / (za.nu + zb.nu - iv.both), 6) AS jaccard,
        |  ROUND(CAST(na.n_users AS DOUBLE) * iv.both
        |    / (CAST(za.nu AS DOUBLE) * zb.nu), 6) AS lift
        |FROM iv
        |JOIN sz za ON iv.ta = za.t
        |JOIN sz zb ON iv.tb = zb.t
        |CROSS JOIN na
        |ORDER BY iv.ta, iv.tb""".stripMargin
  )
}
