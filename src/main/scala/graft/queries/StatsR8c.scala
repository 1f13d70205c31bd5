package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-8 wave 5 (SURVEY.md §2 B.10b): rank-concordance between
  * series (Kendall τ-b), epidemiology-style 2×2/trend tests (odds
  * ratio, Cochran–Armitage), market concentration (HHI), and two
  * finance-grade time aggregations (TWAP, Cutler RSI — the
  * SMA-based RSI variant chosen BECAUSE it is relational; Wilder's
  * recursive smoothing isn't, and q_ses_forecast already shows the
  * closed-form unroll for that shape). Exact-integer discipline
  * throughout, as in StatsR8/StatsR8b.
  */
object StatsR8c {

  import DailyGrid.wo

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Kendall τ-b between the click and view daily milli-mean series
    // (concordance the Pearson family can't see): all C(n,2) day
    // pairs from the BOUNDED day grid (the theil_sen precedent),
    // exact concordant/discordant/tie counts, tie-corrected
    // denominator. One corpus partial agg; the pair join is day².
    "q_kendall_tau" -> ((s, d) => {
      val wide = DailyGrid.mean(s, d)
        .filter(col("event_type").isin("click", "view"))
        .groupBy("d")
        .agg(max(when(col("event_type") === "click", col("y"))).as("x"),
          max(when(col("event_type") === "view", col("y"))).as("y"))
        .filter(col("x").isNotNull && col("y").isNotNull)
        .localCheckpoint(eager = true) // bounded day grid, 2 legs
      val pairs = wide.select(col("d").as("d1"), col("x").as("x1"),
          col("y").as("y1"))
        .join(wide.select(col("d").as("d2"), col("x").as("x2"),
          col("y").as("y2")), col("d1") < col("d2"))
        .withColumn("sx", signum(col("x2") - col("x1")).cast("long"))
        .withColumn("sy", signum(col("y2") - col("y1")).cast("long"))
      // Standard tau-b: n1/n2 count ALL x-/y-tied pairs (including
      // pairs tied in both), so tx/ty condition on one sign only.
      pairs.agg(count(lit(1)).as("n0"),
          sum(when(col("sx") * col("sy") > 0, 1L).otherwise(0L)).as("c"),
          sum(when(col("sx") * col("sy") < 0, 1L).otherwise(0L))
            .as("disc"),
          sum(when(col("sx") === 0, 1L).otherwise(0L)).as("tx"),
          sum(when(col("sy") === 0, 1L).otherwise(0L)).as("ty"))
        .select(col("n0").as("n_pairs"), col("c").as("concordant"),
          col("disc").as("discordant"),
          round((col("c") - col("disc")).cast("double")
            / sqrt((col("n0") - col("tx")).cast("double")
              * (col("n0") - col("ty"))), 6).as("tau_b"))
    }),

    // Odds ratio of the kappa labeler pair per event type, with the
    // Woolf log-CI: OR = ad/bc from the exact 2×2, halfwidth
    // 1.96·√(1/a+1/b+1/c+1/d) — the effect-size view McNemar's
    // symmetry test doesn't give. One partial agg.
    "q_odds_ratio" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          (col("value") > 100).as("ra"),
          (get_json_object(col("props"), "$.k").cast("int") > 50).as("rb"))
        .groupBy("event_type")
        .agg(sum(when(col("ra") && col("rb"), 1L).otherwise(0L)).as("a"),
          sum(when(col("ra") && !col("rb"), 1L).otherwise(0L)).as("b"),
          sum(when(!col("ra") && col("rb"), 1L).otherwise(0L)).as("c"),
          sum(when(!col("ra") && !col("rb"), 1L).otherwise(0L)).as("dd"))
        .withColumn("or_", (col("a").cast("double") * col("dd"))
          / (col("b").cast("double") * col("c")))
        .withColumn("se", sqrt(lit(1.0) / col("a") + lit(1.0) / col("b")
          + lit(1.0) / col("c") + lit(1.0) / col("dd")))
        .select(col("event_type"), col("a"), col("b"), col("c"),
          col("dd").as("d"), round(col("or_"), 4).as("odds_ratio"),
          round(exp(log(col("or_")) - lit(1.96) * col("se")), 4)
            .as("ci_low"),
          round(exp(log(col("or_")) + lit(1.96) * col("se")), 4)
            .as("ci_high"))
        .orderBy("event_type")),

    // Cochran–Armitage trend test: does purchase propensity TREND
    // across the value-decile exposure grades (the dose-response
    // question χ² independence can't answer)? Scores = decile index,
    // z assembled from exact long sums over the bounded 10-row grid.
    "q_cochran_armitage" -> ((s, d) => {
      val g = Tables.events(s, d)
        .select(least(floor(col("value") / 20).cast("long"), lit(9L))
            .as("grade"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("pos"))
        .groupBy("grade")
        .agg(count(lit(1)).as("ni"), sum("pos").as("ki"))
      g.agg(sum("ni").as("n"), sum("ki").as("k"),
          sum(col("grade") * col("ni")).as("sn"),
          sum(col("grade") * col("ki")).as("sk"),
          sum(col("grade") * col("grade") * col("ni")).as("snn"))
        .withColumn("pbar", col("k").cast("double") / col("n"))
        .withColumn("num", col("sk").cast("double")
          - col("pbar") * col("sn"))
        .withColumn("den", sqrt(col("pbar") * (lit(1.0) - col("pbar"))
          * (col("snn").cast("double")
            - col("sn").cast("double") * col("sn") / col("n"))))
        .select(col("n"), col("k").as("k_pos"),
          round(col("num") / col("den"), 4).as("ca_z"))
    }),

    // Herfindahl–Hirschman source-concentration index per language:
    // HHI = 10⁴·Σ(share of source)² — EXACT as 10⁴·Σn²/N² longs until
    // one final division. The "is this language's corpus dominated by
    // one crawler" audit next to q_src_diversity's entropy.
    "q_hhi" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy("lang", "source").agg(count(lit(1)).as("ns"))
        .groupBy("lang")
        .agg(sum("ns").as("n_docs"), count(lit(1)).as("n_sources"),
          sum(col("ns") * col("ns")).as("s2"))
        .select(col("lang"), col("n_docs"), col("n_sources"),
          round(lit(1e4) * col("s2").cast("double")
            / (col("n_docs").cast("double") * col("n_docs")), 2).as("hhi"))
        .orderBy("lang")),

    // Time-weighted average price per (type, day): each event's value
    // weighted by its µs holding interval to the NEXT same-type event
    // that day (the day's last event carries no interval and is
    // excluded — stated). Exact centi·µs products stay in long range
    // (2e4 · 8.64e10 ≈ 2e15); one lead window per type-day.
    "q_twap" -> ((s, d) => {
      val w = Window.partitionBy("event_type", "dd")
        .orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("dd"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"),
          round(col("value") * 100).cast("long").as("v_c"))
        .withColumn("nxt", lead("ts_us", 1).over(w))
        .filter(col("nxt").isNotNull)
        .withColumn("wgt", col("nxt") - col("ts_us"))
        .groupBy("event_type", "dd")
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("v_c") * col("wgt")).as("vw"), sum("wgt").as("sw"))
        .filter(col("sw") > 0)
        .select(col("event_type"), col("dd").as("d"), col("n_intervals"),
          round(col("vw").cast("double") / col("sw") / 100.0, 4)
            .as("twap"))
        .orderBy("event_type", "d")
    }),

    // Cutler RSI (14-day, SMA-based — the relational RSI) on the
    // daily milli-mean series per type: gains/losses are exact milli
    // diffs, the rolling frame is a 14-row window, and
    // RSI = 100·ΣG/(ΣG+ΣL) needs one division. Rows only where the
    // frame is full.
    "q_rsi" -> ((s, d) => {
      val wf = wo.rowsBetween(-13, 0)
      DailyGrid.mean(s, d)
        .withColumn("diff", col("y") - lag("y", 1).over(wo))
        .filter(col("diff").isNotNull)
        .withColumn("gain", when(col("diff") > 0, col("diff")).otherwise(0L))
        .withColumn("loss", when(col("diff") < 0, -col("diff")).otherwise(0L))
        .withColumn("ng", count(lit(1)).over(wf))
        .withColumn("sg", sum("gain").over(wf))
        .withColumn("sl", sum("loss").over(wf))
        .filter(col("ng") === 14)
        .select(col("event_type"), col("d"),
          round(lit(100.0) * col("sg") / (col("sg") + col("sl")), 4)
            .as("rsi14"))
        .orderBy("event_type", "d")
    })
  )

  val oracle: Map[String, String] = Map(
    // identical bounded day-pair grid and tie-corrected denominator
    "q_kendall_tau" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT))
        |      // COUNT(*) AS BIGINT) AS y
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1, 2),
        |wide AS (
        |  SELECT d, MAX(CASE WHEN event_type = 'click' THEN y END) AS x,
        |    MAX(CASE WHEN event_type = 'view' THEN y END) AS y
        |  FROM daily GROUP BY 1
        |  HAVING MAX(CASE WHEN event_type = 'click' THEN y END)
        |      IS NOT NULL
        |    AND MAX(CASE WHEN event_type = 'view' THEN y END)
        |      IS NOT NULL),
        |pairs AS (
        |  SELECT sign(b.x - a.x) AS sx, sign(b.y - a.y) AS sy
        |  FROM wide a JOIN wide b ON a.d < b.d),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
        |    CAST(SUM(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c,
        |    CAST(SUM(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS disc,
        |    CAST(SUM(CASE WHEN sx = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tx,
        |    CAST(SUM(CASE WHEN sy = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ty
        |  FROM pairs)
        |SELECT n0 AS n_pairs, c AS concordant, disc AS discordant,
        |  ROUND(CAST(c - disc AS DOUBLE)
        |    / sqrt(CAST(n0 - tx AS DOUBLE) * (n0 - ty)), 6) AS tau_b
        |FROM agg""".stripMargin,

    // identical exact 2×2 and Woolf interval
    "q_odds_ratio" ->
      """WITH r AS (
        |  SELECT event_type, value > 100 AS ra,
        |    CAST(json_extract(props, '$.k') AS INT) > 50 AS rb
        |  FROM events),
        |t AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(SUM(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(SUM(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM r GROUP BY 1),
        |o AS (
        |  SELECT event_type, a, b, c, d,
        |    (CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE) * c) AS orr,
        |    sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d) AS se
        |  FROM t)
        |SELECT event_type, a, b, c, d, ROUND(orr, 4) AS odds_ratio,
        |  ROUND(exp(ln(orr) - 1.96 * se), 4) AS ci_low,
        |  ROUND(exp(ln(orr) + 1.96 * se), 4) AS ci_high
        |FROM o ORDER BY event_type""".stripMargin,

    // identical bounded grade grid and exact trend sums
    "q_cochran_armitage" ->
      """WITH g AS (
        |  SELECT least(CAST(FLOOR(value / 20) AS BIGINT), 9) AS grade,
        |    CAST(COUNT(*) AS BIGINT) AS ni,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ki
        |  FROM events GROUP BY 1),
        |a AS (
        |  SELECT SUM(ni) AS n, SUM(ki) AS k,
        |    SUM(grade * ni) AS sn, SUM(grade * ki) AS sk,
        |    SUM(grade * grade * ni) AS snn
        |  FROM g),
        |z AS (
        |  SELECT n, k,
        |    (CAST(sk AS DOUBLE) - (CAST(k AS DOUBLE) / n) * sn)
        |      / sqrt((CAST(k AS DOUBLE) / n)
        |        * (1.0 - CAST(k AS DOUBLE) / n)
        |        * (CAST(snn AS DOUBLE)
        |          - CAST(sn AS DOUBLE) * sn / n)) AS ca_z
        |  FROM a)
        |SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_pos,
        |  ROUND(ca_z, 4) AS ca_z
        |FROM z""".stripMargin,

    // identical exact share-square sums
    "q_hhi" ->
      """WITH s AS (
        |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS ns
        |  FROM documents GROUP BY 1, 2)
        |SELECT lang, CAST(SUM(ns) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_sources,
        |  ROUND(1e4 * CAST(SUM(ns * ns) AS DOUBLE)
        |    / (CAST(SUM(ns) AS DOUBLE) * SUM(ns)), 2) AS hhi
        |FROM s GROUP BY 1 ORDER BY lang""".stripMargin,

    // identical lead-interval weights and exact centi·µs products
    "q_twap" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS dd,
        |    epoch_us(ts) AS ts_us, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v_c
        |  FROM events),
        |ld AS (
        |  SELECT event_type, dd, v_c,
        |    lead(ts_us) OVER (PARTITION BY event_type, dd
        |      ORDER BY ts_us, event_id) - ts_us AS wgt
        |  FROM ev),
        |agg AS (
        |  SELECT event_type, dd, CAST(COUNT(*) AS BIGINT)
        |      AS n_intervals,
        |    SUM(v_c * wgt) AS vw, SUM(wgt) AS sw
        |  FROM ld WHERE wgt IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, dd AS d, n_intervals,
        |  ROUND(CAST(vw AS DOUBLE) / sw / 100.0, 4) AS twap
        |FROM agg WHERE sw > 0
        |ORDER BY event_type, d""".stripMargin,

    // identical milli diffs, 14-row frame, full-frame gate
    "q_rsi" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT))
        |      // COUNT(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |df AS (
        |  SELECT event_type, d,
        |    y - lag(y) OVER (PARTITION BY event_type ORDER BY d) AS diff
        |  FROM daily),
        |gl AS (
        |  SELECT event_type, d,
        |    CASE WHEN diff > 0 THEN diff ELSE 0 END AS gain,
        |    CASE WHEN diff < 0 THEN -diff ELSE 0 END AS loss
        |  FROM df WHERE diff IS NOT NULL),
        |fr AS (
        |  SELECT event_type, d,
        |    COUNT(*) OVER w AS ng, SUM(gain) OVER w AS sg,
        |    SUM(loss) OVER w AS sl
        |  FROM gl
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, d,
        |  ROUND(100.0 * sg / (sg + sl), 4) AS rsi14
        |FROM fr WHERE ng = 14
        |ORDER BY event_type, d""".stripMargin
  )
}
