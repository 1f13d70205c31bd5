package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-9 wave 47 (SURVEY.md §2 B.10b): second-digit Benford
  * screening (string-extracted digits — no float log10 at decade
  * boundaries), the rich-club coefficient of the handoff graph at
  * k ∈ {2,4,8}, the unbiased pass@k estimator over each user's first
  * 10 events (the LLM-eval formula 1 − C(n−c,k)/C(n,k), unrolled
  * exactly), a one-step Bradley-Terry strength fit of the 5 types
  * from daily pairwise wins, a 3-model forecast combination MAE
  * panel (naive / seasonal-naive / drift / mean-combo), and the Gini
  * concentration of graph degrees.
  */
object StatsR9zt {

  import DailyGrid.wo

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Second-digit Benford on order totals (cents): digit by STRING
    // slice (stated — float log10 misbins decade boundaries);
    // expected P(k) = Σ_{j=1..9} log10(1 + 1/(10j+k)); the summary χ²
    // rides every row (stated constant column).
    "q_benford_second" -> ((s, d) => {
      val dig = Tables.orders(s, d)
        .select(round(col("o_totalprice") * 100).cast("long").as("x"))
        .filter(col("x") >= 10)
        .select(substring(col("x").cast("string"), 2, 1).cast("long")
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("observed"))
      val expFrac = (0 to 9).map { k =>
        (k.toLong, (1 to 9).map(j =>
          math.log10(1.0 + 1.0 / (10 * j + k))).sum)
      }
      import s.implicits._
      val ef = expFrac.toDF("digit", "exp_frac")
      val tot = dig.agg(sum("observed").as("n"))
      val j = dig.join(broadcast(ef), "digit")
        .crossJoin(broadcast(tot))
        .localCheckpoint(eager = true)
      val chi2 = j.agg(sum(pow(col("observed")
          - col("n") * col("exp_frac"), 2)
        / (col("n") * col("exp_frac"))).as("chi2"))
      j.crossJoin(broadcast(chi2))
        .select(col("digit"), col("observed"),
          round(col("observed").cast("double") / col("n"), 6)
            .as("obs_frac"),
          round(col("exp_frac"), 6).as("exp_frac"),
          round(col("chi2"), 6).as("chi2_total"))
        .orderBy("digit")
    }),

    // Rich-club coefficient of the symmetrized handoff graph at
    // k ∈ {2,4,8}: φ(k) = 2E_k / (N_k(N_k−1)) over deg>k nodes.
    "q_rich_club" -> ((s, d) => {
      import s.implicits._
      val e0 = StatsR9za.handoff(s, d)
      val adj = e0.select(col("src").as("u"), col("dst").as("w"))
        .union(e0.select(col("dst").as("u"), col("src").as("w")))
        .distinct().localCheckpoint(eager = true)
      val deg = adj.groupBy("u").agg(count(lit(1)).as("deg"))
      val und = adj.filter(col("u") < col("w"))
      val ks = Seq(2L, 4L, 8L).toDF("k")
      val nk = deg.crossJoin(broadcast(ks))
        .filter(col("deg") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("n_k"))
      val ek = und
        .join(deg.select(col("u"), col("deg").as("du")), "u")
        .join(deg.select(col("u").as("w"), col("deg").as("dw")), "w")
        .crossJoin(broadcast(ks))
        .filter(col("du") > col("k") && col("dw") > col("k"))
        .groupBy("k").agg(count(lit(1)).as("e_k"))
      nk.join(ek, Seq("k"), "left")
        .withColumn("e_k", coalesce(col("e_k"), lit(0L)))
        .filter(col("n_k") > 1)
        .select(col("k"), col("n_k"), col("e_k"),
          round(lit(2.0) * col("e_k")
            / (col("n_k").cast("double") * (col("n_k") - 1)), 6)
            .as("rich_club_phi"))
        .orderBy("k")
    }),

    // pass@k over each user's first 10 events (stated window):
    // c = purchases among them; pass@k = 1 − Π_{i<k}(n−c−i)/(n−i),
    // zero product when n−c < k; per-user value snapped 1e9.
    "q_pass_at_k" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy("user_id").orderBy("tu", "event_id")
      val per = Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("tu"),
          col("event_id"), col("event_type"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("c"))
        .localCheckpoint(eager = true)
      val ks = Seq(1, 3, 5).toDF("k")
      def failProd(k: Int) = (0 until k).map(i =>
        (col("n") - col("c") - i).cast("double") / (col("n") - i))
        .reduce(_ * _)
      val scored = per.crossJoin(broadcast(ks))
        .withColumn("fail",
          when(col("n") - col("c") >= col("k"),
            when(col("k") === 1, failProd(1))
              .when(col("k") === 3, failProd(3))
              .otherwise(failProd(5)))
            .otherwise(lit(0.0)))
        .withColumn("p_u", round((lit(1.0) - col("fail")) * 1e9)
          .cast("long"))
      scored.groupBy("k")
        .agg(count(lit(1)).as("n_users"), sum("p_u").as("sp"))
        .select(col("k"), col("n_users"),
          round(col("sp") / col("n_users").cast("double") / 1e9, 6)
            .as("mean_pass"))
        .orderBy("k")
    }),

    // One-step Bradley-Terry from daily pairwise wins between types
    // (ties excluded, stated): π_i = W_i/(C_i/2) from the uniform
    // start, normalized to Σπ = 1.
    "q_bradley_terry" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d)
      val pairs = dm.select(col("d").as("dd"), col("event_type")
          .as("t1"), col("y").as("y1"))
        .join(dm.select(col("d").as("dd"), col("event_type").as("t2"),
          col("y").as("y2")), "dd")
        .filter(col("t1") =!= col("t2") && col("y1") =!= col("y2"))
      val st = pairs.groupBy("t1")
        .agg(sum(when(col("y1") > col("y2"), 1L).otherwise(0L))
          .as("wins"), count(lit(1)).as("comparisons"))
        .withColumn("pi_raw", col("wins").cast("double")
          / (col("comparisons") / 2.0))
        .localCheckpoint(eager = true)
      val tot = st.agg(sum("pi_raw").as("sp"))
      st.crossJoin(broadcast(tot))
        .select(col("t1").as("event_type"), col("wins"),
          col("comparisons"),
          round(col("pi_raw") / col("sp"), 6).as("bt_score"))
        .orderBy("event_type")
    }),

    // Forecast-combination MAE panel per type over days t ≥ 8
    // (stated — all three models defined): naive y_{t−1}, seasonal
    // y_{t−7}, drift y_{t−1} + (y_{t−1} − y_1)/(t−2), combo = mean;
    // drift/combo per-row errors snapped 1e6.
    "q_forecast_combo" -> ((s, d) => {
      val base = DailyGrid.mean(s, d)
        .withColumn("p1", lag("y", 1).over(wo))
        .withColumn("p7", lag("y", 7).over(wo))
        .withColumn("y1", first("y").over(
          wo.rowsBetween(Window.unboundedPreceding, 0)))
        .filter(col("i") >= 8)
        .withColumn("drift", col("p1")
          + (col("p1") - col("y1")).cast("double") / (col("i") - 2))
        .withColumn("combo",
          (col("p1") + col("p7") + col("drift")) / 3.0)
      base.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(abs(col("y") - col("p1"))).as("ae1"),
          sum(abs(col("y") - col("p7"))).as("ae7"),
          sum(round(abs(col("y") - col("drift")) * 1e6).cast("long"))
            .as("aed"),
          sum(round(abs(col("y") - col("combo")) * 1e6).cast("long"))
            .as("aec"))
        .select(col("event_type"), col("n").as("n_forecasts"),
          round(col("ae1").cast("double") / col("n") / 1000, 6)
            .as("mae_naive"),
          round(col("ae7").cast("double") / col("n") / 1000, 6)
            .as("mae_snaive"),
          round(col("aed").cast("double") / col("n") / 1e6 / 1000, 6)
            .as("mae_drift"),
          round(col("aec").cast("double") / col("n") / 1e6 / 1000, 6)
            .as("mae_combo"))
        .orderBy("event_type")
    }),

    // Degree Gini of the symmetrized handoff graph: sorted-degree
    // identity G = 2Σi·d_i/(nΣd) − (n+1)/n, all exact longs.
    "q_degree_gini" -> ((s, d) => {
      val e0 = StatsR9za.handoff(s, d)
      val deg = e0.select(col("src").as("u"), col("dst").as("w"))
        .union(e0.select(col("dst").as("u"), col("src").as("w")))
        .distinct()
        .groupBy("u").agg(count(lit(1)).as("deg"))
      // node-grain global rank → range-partitioned (r10 VERDICT task 4)
      graft.operators.PrefixSum.rank(deg,
          Seq(col("deg").asc, col("u").asc), "i")
        .agg(count(lit(1)).as("n"), sum("deg").as("sd"),
          sum(col("i") * col("deg")).as("sid"))
        .filter(col("sd") > 0)
        .select(col("n").as("n_nodes"),
          round(col("sd").cast("double") / col("n"), 6).as("mean_deg"),
          round(lit(2.0) * col("sid")
            / (col("n").cast("double") * col("sd"))
            - (col("n") + 1).cast("double") / col("n"), 6)
            .as("degree_gini"))
    })
  )

  // string-literal → DOUBLE casts: a bare 17-digit literal would
  // parse as DECIMAL in DuckDB and drift an ulp through the chain
  private def expFracSql: String =
    (0 to 9).map { k =>
      val v = (1 to 9).map(j =>
        math.log10(1.0 + 1.0 / (10 * j + k))).sum
      s"($k, CAST('$v' AS DOUBLE))"
    }.mkString(", ")

  val oracle: Map[String, String] = Map(
    // identical string-sliced digits and literal expectations (the
    // exp_frac literals are the SAME doubles the Spark side embeds)
    "q_benford_second" ->
      s"""WITH dig AS (
        |  SELECT CAST(substring(CAST(x AS VARCHAR), 2, 1) AS BIGINT)
        |      AS digit,
        |    CAST(COUNT(*) AS BIGINT) AS observed
        |  FROM (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x
        |        FROM orders)
        |  WHERE x >= 10 GROUP BY 1),
        |ef AS (SELECT * FROM (VALUES $expFracSql) AS t(digit, exp_frac)),
        |tot AS (SELECT SUM(observed) AS n FROM dig),
        |j AS (
        |  SELECT dig.digit, dig.observed, ef.exp_frac, tot.n
        |  FROM dig JOIN ef ON dig.digit = ef.digit, tot),
        |c2 AS (
        |  SELECT SUM(POW(observed - n * exp_frac, 2)
        |    / (n * exp_frac)) AS chi2
        |  FROM j)
        |SELECT j.digit, j.observed,
        |  ROUND(CAST(j.observed AS DOUBLE) / j.n, 6) AS obs_frac,
        |  ROUND(j.exp_frac, 6) AS exp_frac,
        |  ROUND(c2.chi2, 6) AS chi2_total
        |FROM j, c2 ORDER BY j.digit""".stripMargin,

    // identical deg>k inductions
    "q_rich_club" -> (s"WITH ${StatsR9za.edgeCte}," +
      """
        |adj AS (
        |  SELECT DISTINCT u, w FROM (
        |    SELECT src AS u, dst AS w FROM e
        |    UNION ALL SELECT dst, src FROM e)),
        |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg
        |        FROM adj GROUP BY 1),
        |und AS (SELECT u, w FROM adj WHERE u < w),
        |ks AS (SELECT UNNEST([2, 4, 8]) AS k),
        |nk AS (
        |  SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS n_k
        |  FROM deg, ks WHERE deg.deg > ks.k GROUP BY 1),
        |ek AS (
        |  SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS e_k
        |  FROM und
        |  JOIN deg a ON und.u = a.u
        |  JOIN deg b ON und.w = b.u, ks
        |  WHERE a.deg > ks.k AND b.deg > ks.k
        |  GROUP BY 1)
        |SELECT CAST(nk.k AS BIGINT) AS k, nk.n_k,
        |  COALESCE(ek.e_k, 0) AS e_k,
        |  ROUND(2.0 * COALESCE(ek.e_k, 0)
        |    / (CAST(nk.n_k AS DOUBLE) * (nk.n_k - 1)), 6)
        |    AS rich_club_phi
        |FROM nk LEFT JOIN ek ON nk.k = ek.k
        |WHERE nk.n_k > 1
        |ORDER BY k""".stripMargin),

    // identical unrolled fail products
    "q_pass_at_k" ->
      """WITH rk AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rk
        |  FROM events),
        |per AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS c
        |  FROM rk WHERE rk <= 10 GROUP BY 1),
        |ks AS (SELECT UNNEST([1, 3, 5]) AS k),
        |sc AS (
        |  SELECT per.user_id, ks.k,
        |    CAST(ROUND((1.0 - CASE WHEN per.n - per.c >= ks.k THEN
        |      CASE ks.k
        |        WHEN 1 THEN CAST(per.n - per.c AS DOUBLE) / per.n
        |        WHEN 3 THEN (CAST(per.n - per.c AS DOUBLE) / per.n)
        |          * (CAST(per.n - per.c - 1 AS DOUBLE) / (per.n - 1))
        |          * (CAST(per.n - per.c - 2 AS DOUBLE) / (per.n - 2))
        |        ELSE (CAST(per.n - per.c AS DOUBLE) / per.n)
        |          * (CAST(per.n - per.c - 1 AS DOUBLE) / (per.n - 1))
        |          * (CAST(per.n - per.c - 2 AS DOUBLE) / (per.n - 2))
        |          * (CAST(per.n - per.c - 3 AS DOUBLE) / (per.n - 3))
        |          * (CAST(per.n - per.c - 4 AS DOUBLE) / (per.n - 4))
        |      END ELSE 0.0 END) * 1e9) AS BIGINT) AS p_u
        |  FROM per, ks)
        |SELECT CAST(k AS INT) AS k,
        |  CAST(COUNT(*) AS BIGINT) AS n_users,
        |  ROUND(SUM(p_u) / CAST(COUNT(*) AS DOUBLE) / 1e9, 6)
        |    AS mean_pass
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical one-step MM
    "q_bradley_terry" -> (s"WITH ${DailyGrid.dmCte}," +
      """
        |pairs AS (
        |  SELECT a.event_type AS t1, a.y AS y1, b.y AS y2
        |  FROM dm a JOIN dm b ON a.d = b.d
        |    AND a.event_type <> b.event_type
        |  WHERE a.y <> b.y),
        |st AS (
        |  SELECT t1,
        |    CAST(SUM(CASE WHEN y1 > y2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS wins,
        |    CAST(COUNT(*) AS BIGINT) AS comparisons
        |  FROM pairs GROUP BY 1),
        |pr AS (
        |  SELECT t1, wins, comparisons,
        |    CAST(wins AS DOUBLE) / (comparisons / 2.0) AS pi_raw
        |  FROM st),
        |tot AS (SELECT SUM(pi_raw) AS sp FROM pr)
        |SELECT pr.t1 AS event_type, pr.wins, pr.comparisons,
        |  ROUND(pr.pi_raw / tot.sp, 6) AS bt_score
        |FROM pr, tot ORDER BY event_type""".stripMargin),

    // identical per-row snapped drift/combo errors
    "q_forecast_combo" -> (s"WITH ${DailyGrid.dmCte}," +
      """
        |base AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER w AS BIGINT) AS i,
        |    lag(y, 1) OVER w AS p1,
        |    lag(y, 7) OVER w AS p7,
        |    first_value(y) OVER w AS y1
        |  FROM dm
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |f AS (
        |  SELECT event_type, y, p1, p7,
        |    p1 + CAST(p1 - y1 AS DOUBLE) / (i - 2) AS drift
        |  FROM base WHERE i >= 8),
        |g AS (
        |  SELECT event_type, ABS(y - p1) AS ae1, ABS(y - p7) AS ae7,
        |    CAST(ROUND(ABS(y - drift) * 1e6) AS BIGINT) AS aed,
        |    CAST(ROUND(ABS(y - (p1 + p7 + drift) / 3.0) * 1e6)
        |      AS BIGINT) AS aec
        |  FROM f)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_forecasts,
        |  ROUND(CAST(SUM(ae1) AS DOUBLE) / COUNT(*) / 1000, 6)
        |    AS mae_naive,
        |  ROUND(CAST(SUM(ae7) AS DOUBLE) / COUNT(*) / 1000, 6)
        |    AS mae_snaive,
        |  ROUND(CAST(SUM(aed) AS DOUBLE) / COUNT(*) / 1e6 / 1000, 6)
        |    AS mae_drift,
        |  ROUND(CAST(SUM(aec) AS DOUBLE) / COUNT(*) / 1e6 / 1000, 6)
        |    AS mae_combo
        |FROM g GROUP BY 1 ORDER BY event_type""".stripMargin),

    // identical sorted-degree Gini identity
    "q_degree_gini" -> (s"WITH ${StatsR9za.edgeCte}," +
      """
        |adj AS (
        |  SELECT DISTINCT u, w FROM (
        |    SELECT src AS u, dst AS w FROM e
        |    UNION ALL SELECT dst, src FROM e)),
        |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg
        |        FROM adj GROUP BY 1),
        |ix AS (
        |  SELECT deg,
        |    CAST(row_number() OVER (ORDER BY deg, u) AS BIGINT) AS i
        |  FROM deg),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(deg) AS sd,
        |    SUM(i * deg) AS sid
        |  FROM ix)
        |SELECT n AS n_nodes,
        |  ROUND(CAST(sd AS DOUBLE) / n, 6) AS mean_deg,
        |  ROUND(2.0 * sid / (CAST(n AS DOUBLE) * sd)
        |    - CAST(n + 1 AS DOUBLE) / n, 6) AS degree_gini
        |FROM ag WHERE sd > 0""".stripMargin)
  )
}
