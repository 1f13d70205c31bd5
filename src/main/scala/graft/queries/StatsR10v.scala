package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Round-10 wave 23 (SURVEY.md §2 B.10b): the extreme-value-theory
  * family — mean-excess diagnostics, GPD peaks-over-threshold fit by
  * method of moments, and the Ferro-Segers extremal index.
  *
  * House discipline: thresholds are exact centi order statistics
  * (value-at-index); excess moments and interexceedance-gap sums are
  * exact longs; each estimator runs one double chain spelled
  * identically in the oracle.
  */
object StatsR10v {

  import DailyGrid.wp

  /** Per-type centi values ranked ascending (shared by u-pickers). */
  private def ranked(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("vc"),
        col("event_id"))
      .withColumn("i", row_number().over(Window
        .partitionBy("event_type").orderBy("vc", "event_id"))
        .cast("long"))
      .withColumn("n", count(lit(1)).over(wp))

  private val rankedCte: String =
    """r AS (
      |  SELECT event_type,
      |    CAST(ROUND(value * 100) AS BIGINT) AS vc,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY CAST(ROUND(value * 100) AS BIGINT), event_id)
      |      AS BIGINT) AS i,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Mean-excess function at the {80, 85, 90, 95}th percentile
    // thresholds per type: e(u) = mean(x − u | x > u) from exact
    // centi sums — rising e(u) means heavy tail (GPD ξ > 0), the
    // plot every POT fit should check first.
    "q_mean_excess" -> ((s, d) => {
      val r = ranked(s, d).localCheckpoint(eager = true) // u leg + excess leg
      val ps = s.range(0, 4)
        .select((col("id") * 5 + 80).as("pct"))
      val us = r.crossJoin(broadcast(ps))
        .filter(col("i") === expr("CAST(ceil(pct * n / 100.0) AS BIGINT)"))
        .select(col("event_type"), col("pct"), col("vc").as("u"))
      r.join(broadcast(us), "event_type")
        .filter(col("vc") > col("u"))
        .groupBy("event_type", "pct", "u")
        .agg(count(lit(1)).as("n_exc"),
          sum(col("vc") - col("u")).as("sexc"))
        .select(col("event_type"), col("pct"),
          round(col("u") / 100.0, 2).as("threshold"),
          col("n_exc"),
          round(col("sexc") / col("n_exc").cast("double") / 100.0, 4)
            .as("mean_excess"))
        .orderBy("event_type", "pct")
    }),

    // GPD peaks-over-threshold fit (u = p95) by method of moments:
    // ξ = ½(1 − m²/s²), σ = ½m(m²/s² + 1) from exact excess moments,
    // plus the implied 99.9% quantile u + σ/ξ((ζ/0.001)^ξ − 1) —
    // the tail model q_var_historical's empirical quantile can't
    // extrapolate past the sample.
    "q_gpd_pot" -> ((s, d) => {
      val r = ranked(s, d).localCheckpoint(eager = true)
      val us = r.filter(col("i") === expr("CAST(ceil(95 * n / 100.0) AS BIGINT)"))
        .select(col("event_type"), col("vc").as("u"), col("n").as("nn"))
      r.join(broadcast(us), "event_type")
        .filter(col("vc") > col("u"))
        .groupBy("event_type", "u", "nn")
        .agg(count(lit(1)).as("k"),
          sum(col("vc") - col("u")).as("s1"),
          sum((col("vc") - col("u")) * (col("vc") - col("u"))).as("s2"))
        .filter(col("k") >= 3)
        .withColumn("m", col("s1").cast("double") / col("k"))
        .withColumn("v", (col("k").cast("double") * col("s2")
          - col("s1").cast("double") * col("s1"))
          / col("k") / (col("k") - 1))
        .withColumn("rr", col("m") * col("m") / col("v"))
        .withColumn("xi", (lit(1.0) - col("rr")) / 2)
        .withColumn("sg", col("m") * (col("rr") + 1) / 2)
        .withColumn("zeta", col("k").cast("double") / col("nn"))
        .select(col("event_type"),
          round(col("u") / 100.0, 2).as("threshold"),
          col("k").as("n_exceed"),
          round(col("xi"), 6).as("xi"),
          round(col("sg") / 100.0, 4).as("sigma"),
          round((col("u") + col("sg") / col("xi")
            * (pow(col("zeta") / lit(0.001), col("xi")) - lit(1.0)))
            / 100.0, 2).as("q999"))
        .orderBy("event_type")
    }),

    // Ferro-Segers extremal index per type over the p95 exceedance
    // POSITION series (time order): interexceedance gaps T_j as exact
    // longs; θ = 2(ΣT)²/((N−1)ΣT²) when max T ≤ 2, else the
    // bias-corrected 2(Σ(T−1))²/((N−1)Σ(T−1)(T−2)) — θ≈1 isolated
    // extremes, θ→0 clustered bursts.
    "q_extremal_index" -> ((s, d) => {
      val wt = Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
      val pos = Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("vc"))
        .withColumn("p", row_number().over(wt).cast("long"))
        .localCheckpoint(eager = true) // u leg + gap leg
      val us = ranked(s, d)
        .filter(col("i") === expr("CAST(ceil(95 * n / 100.0) AS BIGINT)"))
        .select(col("event_type"), col("vc").as("u"))
      val wg = Window.partitionBy("event_type").orderBy("p")
      pos.join(broadcast(us), "event_type")
        .filter(col("vc") > col("u"))
        .withColumn("pp", lag("p", 1).over(wg))
        .filter(col("pp").isNotNull)
        .select(col("event_type"), (col("p") - col("pp")).as("t"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("ng"), max("t").as("mt"),
          sum("t").as("st"), sum(col("t") * col("t")).as("st2"),
          sum(col("t") - 1).as("sm1"),
          sum((col("t") - 1) * (col("t") - 2)).as("sm12"))
        .withColumn("theta",
          when(col("mt") <= 2,
            lit(2.0) * col("st") * col("st")
              / (col("ng").cast("double") * col("st2")))
          .otherwise(lit(2.0) * col("sm1") * col("sm1")
            / (col("ng").cast("double") * col("sm12"))))
        .select(col("event_type"), col("ng").as("n_gaps"),
          col("mt").as("max_gap"),
          round(least(col("theta"), lit(1.0)), 6).as("extremal_index"))
        .orderBy("event_type")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_mean_excess" ->
      s"""WITH $rankedCte,
        |ps AS (SELECT CAST(unnest([80, 85, 90, 95]) AS BIGINT)
        |  AS pct),
        |us AS (
        |  SELECT event_type, pct, vc AS u
        |  FROM r CROSS JOIN ps
        |  WHERE i = CAST(CEIL(pct * n / 100.0) AS BIGINT)),
        |e AS (
        |  SELECT r.event_type, us.pct, us.u,
        |    CAST(COUNT(*) AS BIGINT) AS n_exc,
        |    CAST(SUM(r.vc - us.u) AS BIGINT) AS sexc
        |  FROM r JOIN us ON r.event_type = us.event_type
        |  WHERE r.vc > us.u
        |  GROUP BY 1, 2, 3)
        |SELECT event_type, pct,
        |  ROUND(u / 100.0, 2) AS threshold, n_exc,
        |  ROUND(sexc / CAST(n_exc AS DOUBLE) / 100.0, 4)
        |    AS mean_excess
        |FROM e ORDER BY event_type, pct""".stripMargin,

    "q_gpd_pot" ->
      s"""WITH $rankedCte,
        |us AS (
        |  SELECT event_type, vc AS u, n AS nn FROM r
        |  WHERE i = CAST(CEIL(95 * n / 100.0) AS BIGINT)),
        |e AS (
        |  SELECT r.event_type, us.u, us.nn,
        |    CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(r.vc - us.u) AS BIGINT) AS s1,
        |    CAST(SUM((r.vc - us.u) * (r.vc - us.u)) AS BIGINT) AS s2
        |  FROM r JOIN us ON r.event_type = us.event_type
        |  WHERE r.vc > us.u
        |  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 3),
        |f AS (
        |  SELECT event_type, u, k,
        |    CAST(s1 AS DOUBLE) / k AS m,
        |    (CAST(k AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
        |      / k / (k - 1) AS v,
        |    CAST(k AS DOUBLE) / nn AS zeta
        |  FROM e),
        |p AS (
        |  SELECT event_type, u, k, zeta,
        |    (1.0 - m * m / v) / 2 AS xi,
        |    m * (m * m / v + 1) / 2 AS sg
        |  FROM f)
        |SELECT event_type,
        |  ROUND(u / 100.0, 2) AS threshold,
        |  k AS n_exceed,
        |  ROUND(xi, 6) AS xi,
        |  ROUND(sg / 100.0, 4) AS sigma,
        |  ROUND((u + sg / xi * (pow(zeta / 0.001, xi) - 1.0))
        |    / 100.0, 2) AS q999
        |FROM p ORDER BY event_type""".stripMargin,

    "q_extremal_index" ->
      s"""WITH $rankedCte,
        |us AS (
        |  SELECT event_type, vc AS u FROM r
        |  WHERE i = CAST(CEIL(95 * n / 100.0) AS BIGINT)),
        |pos AS (
        |  SELECT event_type,
        |    CAST(ROUND(value * 100) AS BIGINT) AS vc,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS BIGINT) AS p
        |  FROM events),
        |exc AS (
        |  SELECT pos.event_type, p,
        |    lag(p) OVER (PARTITION BY pos.event_type ORDER BY p)
        |      AS pp
        |  FROM pos JOIN us ON pos.event_type = us.event_type
        |  WHERE pos.vc > us.u),
        |gaps AS (
        |  SELECT event_type, p - pp AS t FROM exc
        |  WHERE pp IS NOT NULL),
        |g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ng,
        |    CAST(MAX(t) AS BIGINT) AS mt,
        |    CAST(SUM(t) AS BIGINT) AS st,
        |    CAST(SUM(t * t) AS BIGINT) AS st2,
        |    CAST(SUM(t - 1) AS BIGINT) AS sm1,
        |    CAST(SUM((t - 1) * (t - 2)) AS BIGINT) AS sm12
        |  FROM gaps GROUP BY 1),
        |f AS (
        |  SELECT event_type, ng, mt,
        |    CASE WHEN mt <= 2
        |      THEN 2.0 * st * st / (CAST(ng AS DOUBLE) * st2)
        |      ELSE 2.0 * sm1 * sm1 / (CAST(ng AS DOUBLE) * sm12)
        |    END AS theta
        |  FROM g)
        |SELECT event_type, ng AS n_gaps, mt AS max_gap,
        |  ROUND(LEAST(theta, 1.0), 6) AS extremal_index
        |FROM f ORDER BY event_type""".stripMargin
  )
}
