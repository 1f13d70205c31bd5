package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Round-10 wave 4 (SURVEY.md §2 B.10/B.12): ranking-agreement and
  * robust/forecast-eval statistics — rank-biased overlap between two
  * retrieval rankings, a fully-exact rolling-MAD outlier monitor
  * (array-median over ROWS windows, cross-multiplied flags — zero
  * doubles in the decision path), the theta-method forecast composed
  * from the unrolled SES sum and exact cleared OLS drift, and
  * Laplace-smoothed held-out log-loss for the score calibration.
  */
object StatsR10d {

  import DailyGrid.{wo, wp}

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Rank-biased overlap (Webber et al., p=0.9, depth 20) between
    // the COSINE and DOT-PRODUCT rankings of all candidates against
    // the vec 0 query — how much normalization changes retrieval.
    // Overlap at depth d = #items with max(rank_cos, rank_dot) ≤ d;
    // per-depth coefficients (1−p)·p^(d−1)/d snap to 1e9 longs, so
    // the cumulative RBO is an exact prefix sum over 20 rows. Both
    // corpus-grain ranks run through operators/PrefixSum (r10 VERDICT
    // task 4 — no single-task sort at any grain).
    "q_rbo" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val scored0 = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(expr("cosine_sim(embedding, q_emb)"), 6).as("cos"),
          round(expr("aggregate(zip_with(embedding, q_emb," +
            " (x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, x) -> a + x)"),
            6).as("dot"))
      val scored = graft.operators.PrefixSum.rank(
          graft.operators.PrefixSum.rank(scored0,
            Seq(col("cos").desc, col("vec_id")), "rc"),
          Seq(col("dot").desc, col("vec_id")), "rd")
        .withColumn("mx", greatest(col("rc"), col("rd")))
        .filter(col("mx") <= 20)
      import s.implicits._
      val depths = (1L to 20L).toDF("d")
      depths.join(scored, col("mx") <= col("d"), "left")
        .groupBy("d")
        .agg(count(col("vec_id")).as("overlap"))
        .withColumn("coef_u", expr(
          "CAST(ROUND((1.0D - 0.9D) * POWER(0.9D, d - 1) / d * 1e9)" +
            " AS BIGINT)"))
        .withColumn("term", col("coef_u") * col("overlap"))
        // bounded grain: depth table <= 20 rows
        .withColumn("rbo_u", sum("term").over(Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("d").as("depth"), col("overlap"),
          round(col("rbo_u") / 1e9, 6).as("rbo"))
        .orderBy("depth")
    }),

    // Rolling-MAD outlier monitor on the daily revenue series per
    // type: trailing 7-day windows (complete only, 7 odd), median and
    // MAD both exact middle elements of sorted centi-long arrays, and
    // the flag 10·|x−med| > 35·mad is a cross-multiplied INTEGER
    // comparison — the whole robust decision path has zero doubles.
    // Emits flagged days only (the alert stream a monitor publishes).
    "q_rolling_mad" -> ((s, d) => {
      val w7 = wo.rowsBetween(-6, 0)
      DailyGrid.centi(s, d)
        .withColumn("arr", collect_list("x").over(w7))
        .filter(size(col("arr")) === 7)
        .withColumn("med", expr("array_sort(arr)[3]"))
        .withColumn("mad", expr(
          "array_sort(transform(arr, v -> abs(v - array_sort(arr)[3])))[3]"))
        .filter(abs(col("x") - col("med")) * 10 > col("mad") * 35)
        .select(col("event_type"), col("d"),
          round(col("x") / 100.0, 2).as("value"),
          round(col("med") / 100.0, 2).as("rolling_median"),
          round(col("mad") / 100.0, 2).as("rolling_mad"))
        .orderBy("event_type", "d")
    }),

    // Theta-method one-step forecast (θ=2, simplified to its classic
    // decomposition: 0.5·SES + 0.5·linear-drift extrapolation) per
    // type on the µ-grid daily means — composes q_ses_forecast's
    // unrolled weighted sum (α=0.3, identical literals) with exact
    // cleared OLS (b = (nΣiy−ΣiΣy)/(nΣi²−(Σi)²) on longs).
    "q_theta_forecast" -> ((s, d) => {
      DailyGrid.mean(s, d)
        .withColumn("n", count(lit(1)).over(wp))
        .withColumn("wgt",
          when(col("i") === 1,
            lit(0.3) * pow(lit(0.7), col("n") - col("i"))
              + pow(lit(0.7), col("n")))
            .otherwise(lit(0.3) * pow(lit(0.7), col("n") - col("i"))))
        .withColumn("t_u", round(col("wgt") * col("y") * 1e3).cast("long"))
        .groupBy("event_type")
        .agg(max("n").as("n"), sum("t_u").as("st"),
          sum("y").as("sy"), sum(col("i") * col("y")).as("siy"),
          sum(col("i") * col("i")).as("sii"), sum("i").as("si"))
        .filter(col("n") > 1)
        .withColumn("b", (col("n") * col("siy") - col("si") * col("sy"))
          .cast("double")
          / (col("n") * col("sii") - col("si") * col("si")))
        .withColumn("a", (col("sy") - col("b") * col("si")) / col("n"))
        .withColumn("drift", col("a") + col("b") * (col("n") + 1))
        .select(col("event_type"), col("n").as("n_days"),
          round(col("st") / 1e6, 4).as("ses_forecast"),
          round(col("drift") / 1e3, 4).as("drift_forecast"),
          round((col("st") / 1e3 + col("drift")) / 2 / 1e3, 4)
            .as("theta_forecast"))
        .orderBy("event_type")
    }),

    // Held-out log-loss of the props.k score-decile calibration:
    // TRAIN = even event_ids (per-bucket Laplace-smoothed purchase
    // rate (pos+1)/(n+2)), TEST = odd ids; LL = −mean(y·ln p̂ +
    // (1−y)·ln(1−p̂)) with each (bucket, y) log term snapped to a 1e9
    // long before the count-weighted exact sum. Baseline = the same
    // loss under the global train rate — the skill score alongside.
    "q_logloss" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"),
          least(floor(get_json_object(col("props"), "$.k")
            .cast("long") / 10), lit(9L)).as("bkt"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("y"))
        .localCheckpoint(eager = true) // train + test legs
      val train = ev.filter(col("event_id") % 2 === 0)
        .groupBy("bkt").agg(count(lit(1)).as("tn"), sum("y").as("tp"))
      val g = ev.filter(col("event_id") % 2 === 0)
        .agg(count(lit(1)).as("gn"), sum("y").as("gp"))
      val test = ev.filter(col("event_id") % 2 === 1)
        .groupBy("bkt", "y").agg(count(lit(1)).as("c"))
      test.join(broadcast(train), "bkt").crossJoin(broadcast(g))
        .withColumn("p", (col("tp") + 1).cast("double") / (col("tn") + 2))
        .withColumn("pg", (col("gp") + 1).cast("double") / (col("gn") + 2))
        .withColumn("t_u", expr("CAST(ROUND(LN(CASE WHEN y = 1" +
          " THEN p ELSE 1.0D - p END) * 1e9) AS BIGINT)"))
        .withColumn("b_u", expr("CAST(ROUND(LN(CASE WHEN y = 1" +
          " THEN pg ELSE 1.0D - pg END) * 1e9) AS BIGINT)"))
        .agg(sum("c").as("n_test"),
          sum(col("c") * col("t_u")).as("sl"),
          sum(col("c") * col("b_u")).as("sb"))
        .select(col("n_test"),
          round(-col("sl").cast("double") / col("n_test") / 1e9, 6)
            .as("logloss"),
          round(-col("sb").cast("double") / col("n_test") / 1e9, 6)
            .as("baseline_logloss"),
          round(lit(1.0) - col("sl").cast("double") / col("sb"), 6)
            .as("skill"))
    })
  )

  val oracle: Map[String, String] = Map(
    // identical dual rankings + snapped per-depth coefficients
    "q_rbo" ->
      s"""WITH q AS (
        |  SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id,
        |    ROUND(${LlmOps.duckCos("e.embedding", "q.q_emb")}, 6)
        |      AS cos,
        |    ROUND(list_sum(list_transform(list_zip(e.embedding, q.q_emb),
        |      p -> CAST(struct_extract(p, 1) AS DOUBLE)
        |        * CAST(struct_extract(p, 2) AS DOUBLE))), 6) AS dot
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
        |rk AS (
        |  SELECT vec_id,
        |    GREATEST(
        |      CAST(row_number() OVER (ORDER BY cos DESC, vec_id)
        |        AS BIGINT),
        |      CAST(row_number() OVER (ORDER BY dot DESC, vec_id)
        |        AS BIGINT)) AS mx
        |  FROM scored),
        |ds AS (SELECT UNNEST(generate_series(1, 20)) AS d),
        |ov AS (
        |  SELECT ds.d,
        |    CAST(COUNT(rk.vec_id) AS BIGINT) AS overlap
        |  FROM ds LEFT JOIN rk ON rk.mx <= ds.d
        |  GROUP BY 1),
        |terms AS (
        |  SELECT d, overlap,
        |    CAST(ROUND((1.0 - 0.9) * POWER(0.9, d - 1) / d * 1e9)
        |      AS BIGINT) * overlap AS term
        |  FROM ov)
        |SELECT CAST(d AS BIGINT) AS depth, overlap,
        |  ROUND(SUM(term) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 1e9, 6)
        |    AS rbo
        |FROM terms ORDER BY depth""".stripMargin,

    // identical array medians + cross-multiplied flag
    "q_rolling_mad" ->
      """WITH day AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |win AS (
        |  SELECT event_type, d, x,
        |    list(x) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS arr
        |  FROM day),
        |med AS (
        |  SELECT event_type, d, x,
        |    list_sort(arr)[4] AS med,
        |    list_sort(list_transform(arr,
        |      v -> ABS(v - list_sort(arr)[4])))[4] AS mad
        |  FROM win WHERE len(arr) = 7)
        |SELECT event_type, d,
        |  ROUND(x / 100.0, 2) AS value,
        |  ROUND(med / 100.0, 2) AS rolling_median,
        |  ROUND(mad / 100.0, 2) AS rolling_mad
        |FROM med WHERE ABS(x - med) * 10 > mad * 35
        |ORDER BY event_type, d""".stripMargin,

    // identical unrolled SES sum + cleared OLS drift
    "q_theta_forecast" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS dd,
        |    SUM(CAST(FLOOR(value * 1e3) AS BIGINT)) AS s_m,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, s_m // cnt AS y,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY dd) AS BIGINT) AS i,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n
        |  FROM daily),
        |wgt AS (
        |  SELECT event_type, y, i, n,
        |    CASE WHEN i = 1
        |      THEN 0.3 * POWER(0.7, n - i) + POWER(0.7, n)
        |      ELSE 0.3 * POWER(0.7, n - i) END AS wgt
        |  FROM idx),
        |ag AS (
        |  SELECT event_type, MAX(n) AS n,
        |    SUM(CAST(ROUND(wgt * y * 1e3) AS BIGINT)) AS st,
        |    SUM(y) AS sy, SUM(i * y) AS siy, SUM(i * i) AS sii,
        |    SUM(i) AS si
        |  FROM wgt GROUP BY 1 HAVING MAX(n) > 1),
        |fit AS (
        |  SELECT event_type, n, st, sy, si,
        |    CAST(n * siy - si * sy AS DOUBLE)
        |      / (n * sii - si * si) AS b
        |  FROM ag),
        |fin AS (
        |  SELECT event_type, n, st, b,
        |    (sy - b * si) / n AS a
        |  FROM fit)
        |SELECT event_type, n AS n_days,
        |  ROUND(st / 1e6, 4) AS ses_forecast,
        |  ROUND((a + b * (n + 1)) / 1e3, 4) AS drift_forecast,
        |  ROUND((st / 1e3 + (a + b * (n + 1))) / 2 / 1e3, 4)
        |    AS theta_forecast
        |FROM fin ORDER BY event_type""".stripMargin,

    // identical Laplace-smoothed buckets + snapped log terms
    "q_logloss" ->
      """WITH ev AS (
        |  SELECT event_id,
        |    least(CAST(json_extract(props, '$.k') AS BIGINT) // 10,
        |      9) AS bkt,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |train AS (
        |  SELECT bkt, CAST(COUNT(*) AS BIGINT) AS tn,
        |    CAST(SUM(y) AS BIGINT) AS tp
        |  FROM ev WHERE event_id % 2 = 0 GROUP BY 1),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS gn,
        |    CAST(SUM(y) AS BIGINT) AS gp
        |  FROM ev WHERE event_id % 2 = 0),
        |test AS (
        |  SELECT bkt, y, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM ev WHERE event_id % 2 = 1 GROUP BY 1, 2),
        |terms AS (
        |  SELECT test.c,
        |    CAST(ROUND(LN(CASE WHEN test.y = 1
        |      THEN CAST(train.tp + 1 AS DOUBLE) / (train.tn + 2)
        |      ELSE 1.0 - CAST(train.tp + 1 AS DOUBLE) / (train.tn + 2)
        |      END) * 1e9) AS BIGINT) AS t_u,
        |    CAST(ROUND(LN(CASE WHEN test.y = 1
        |      THEN CAST(g.gp + 1 AS DOUBLE) / (g.gn + 2)
        |      ELSE 1.0 - CAST(g.gp + 1 AS DOUBLE) / (g.gn + 2)
        |      END) * 1e9) AS BIGINT) AS b_u
        |  FROM test JOIN train ON test.bkt = train.bkt CROSS JOIN g)
        |SELECT CAST(SUM(c) AS BIGINT) AS n_test,
        |  ROUND(-CAST(SUM(c * t_u) AS DOUBLE) / SUM(c) / 1e9, 6)
        |    AS logloss,
        |  ROUND(-CAST(SUM(c * b_u) AS DOUBLE) / SUM(c) / 1e9, 6)
        |    AS baseline_logloss,
        |  ROUND(1.0 - CAST(SUM(c * t_u) AS DOUBLE) / SUM(c * b_u), 6)
        |    AS skill
        |FROM terms""".stripMargin
  )
}
