package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-9 wave 10 (SURVEY.md §2 B.10b): blocked rank tests, variance
  * homogeneity, absorbing-chain expectations, seasonal trend, change
  * volatility, and a calendar anomaly — Quade (doubled centered
  * ranks, denominators cleared to F = (b−1)ΣT²/(bA − ΣT²)), Bartlett
  * (per-group ln terms snapped to 1e9 before the exact sum), expected
  * steps to absorption via a 20-term Neumann sum on the BOUNDED type²
  * transition matrix (cells snapped to 1e6 each step, folded on the
  * driver — the matrix is bounded by the type vocabulary, not data
  * size), seasonal Mann–Kendall (per-weekday S and tie-corrected
  * variances summed exactly), RMSSD of daily changes, and the
  * weekend-vs-weekday Welch t. Exact integers to the final chain.
  */
object StatsR9j {

  import DailyGrid.{dmCte, wo}

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Quade test over calendar-week blocks (all-types weeks, weekly
    // integer-div means, the q_page_trend grid): within-block ranks
    // with the stated alphabetical tie-break doubled and centered
    // (S2 = Q_b·(2r − (k+1))), block weights Q_b rank the block
    // ranges (ties by week, stated); F = (b−1)ΣT_j²/(b·ΣS2² − ΣT_j²)
    // — every sum an exact long, ONE division.
    "q_quade" -> ((s, d) => {
      val wk = DailyGrid.mean(s, d)
        .groupBy(col("event_type"), date_trunc("week", col("d")).as("w"))
        .agg(sum("y").as("sy"), count(lit(1)).as("cd"))
        .withColumn("wv", expr("sy div cd"))
      val k = wk.select(countDistinct("event_type")).first().getLong(0)
      val blocks = wk.groupBy("w").agg(count(lit(1)).as("nt"),
          (max("wv") - min("wv")).as("rng"))
        .filter(col("nt") === k)
        // bounded grain: one row per complete week block
        .withColumn("qb", row_number().over(
          Window.orderBy("rng", "w")).cast("long"))
        .select("w", "qb")
      val s2 = wk.join(blocks, "w")
        .withColumn("r", row_number().over(
          Window.partitionBy("w").orderBy("wv", "event_type"))
          .cast("long"))
        .withColumn("s2", col("qb") * (col("r") * 2 - lit(k + 1)))
      val tj = s2.groupBy("event_type").agg(sum("s2").as("t_j"))
        .agg(sum(col("t_j") * col("t_j")).as("st2"))
      s2.agg((count(lit(1)) / lit(k)).cast("long").as("b"),
          sum(col("s2") * col("s2")).as("a2"))
        .crossJoin(tj)
        .filter(col("b") * col("a2") - col("st2") > 0)
        .select(col("b").as("n_blocks"), lit(k).as("k_groups"),
          round((col("b") - 1).cast("double") * col("st2")
            / (col("b") * col("a2") - col("st2")), 4).as("f_stat"))
    }),

    // Bartlett's variance-homogeneity test across types on daily
    // milli means: per-group (n_k−1)·ln(s_k²) and clr_k/n_k snapped
    // to 1e9/1e6 longs BEFORE the exact sums (a distributed double
    // sum would be order-dependent), pooled term and correction C
    // assembled in one identical chain.
    "q_bartlett" -> ((s, d) => {
      val g = DailyGrid.mean(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("nk"), sum("y").as("sy"),
          sum(col("y") * col("y")).as("syy"))
        .withColumn("clr", col("nk") * col("syy") - col("sy") * col("sy"))
        .filter(col("nk") > 1 && col("clr") > 0)
        .select(col("nk"),
          round(log(col("clr").cast("double")
            / (col("nk") * (col("nk") - lit(1L))))
            * (col("nk") - 1) * 1e9).cast("long").as("term_u"),
          round(col("clr").cast("double") * 1e6 / col("nk"))
            .cast("long").as("spnum_u"),
          round(lit(1e12) / (col("nk") - 1)).cast("long").as("inv_u"))
      g.agg(count(lit(1)).as("k"), sum("nk").as("n_total"),
          sum("term_u").as("st"), sum("spnum_u").as("sp"),
          sum("inv_u").as("si"))
        .filter(col("k") > 1 && col("n_total") > col("k"))
        .select(col("k").as("k_groups"), col("n_total"),
          round(((col("n_total") - col("k"))
              * log(col("sp").cast("double")
                / (lit(1e6) * (col("n_total") - col("k"))))
            - col("st") / 1e9)
            / (lit(1.0) + (col("si") / 1e12
              - lit(1.0) / (col("n_total") - col("k")))
              / ((col("k") - 1) * 3.0)), 4).as("bartlett_stat"))
    }),

    // Expected steps to absorption ('purchase' absorbing) as the
    // 20-term truncated Neumann sum Σ Q^t·1: transition probabilities
    // snapped to 1e6, each matrix-power cell re-snapped to 1e6 with
    // half-up integer division — the matrix is BOUNDED by the type
    // vocabulary (≤ types² cells at any corpus size), so the fold
    // runs on the driver after one distributed lead-window count.
    "q_markov_absorption" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"),
        col("event_id"))
      val cnt = Tables.events(s, d)
        .withColumn("nx", lead("event_type", 1).over(w))
        .filter(col("nx").isNotNull)
        .groupBy(col("event_type").as("i"), col("nx").as("j"))
        .agg(count(lit(1)).as("n"))
      val tot = cnt.groupBy("i").agg(sum("n").as("t"))
      val q = cnt.join(tot, "i")
        .filter(col("i") =!= "purchase" && col("j") =!= "purchase")
        .select(col("i"), col("j"),
          round(col("n") * lit(1e6) / col("t")).cast("long").as("q_u"))
        .collect().map(r => ((r.getString(0), r.getString(1)),
          r.getLong(2))).toMap
      val states = q.keys.map(_._1).toArray.distinct.sorted
      var pow: Map[(String, String), Long] =
        states.map(st => (st, st) -> 1000000L).toMap
      val acc = scala.collection.mutable.Map[String, Long]()
      for (st <- states) acc(st) = 1000000L
      for (_ <- 1 to 19) {
        pow = (for (i <- states; j <- states) yield {
          val su = states.map(m =>
            pow.getOrElse((i, m), 0L) * q.getOrElse((m, j), 0L)).sum
          (i, j) -> (su + 500000L) / 1000000L
        }).filter(_._2 != 0L).toMap
        for (i <- states)
          acc(i) += states.map(j => pow.getOrElse((i, j), 0L)).sum
      }
      import s.implicits._
      states.map(st => (st, acc(st))).toSeq.toDF("state", "su")
        .select(col("state"), round(col("su") / 1e6, 4).as("exp_steps_20"))
        .orderBy("state")
    }),

    // Seasonal Mann–Kendall per type, seasons = weekdays: S and the
    // tie-corrected variance·18 computed per (type, dow) on the
    // bounded within-season day pairs, summed exactly across seasons,
    // then the q_mann_kendall continuity-corrected z.
    "q_seasonal_mk" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d)
        .withColumn("dow", dayofweek(col("d")))
        .select(col("event_type"), col("dow"), col("d"), col("y"))
      val sS = dm.select(col("event_type"), col("dow"),
          col("d").as("da"), col("y").as("ya"))
        .join(dm.select(col("event_type"), col("dow"),
          col("d").as("db"), col("y").as("yb")), Seq("event_type", "dow"))
        .filter(col("db") > col("da"))
        .groupBy("event_type", "dow")
        .agg(coalesce(sum(signum(col("yb") - col("ya")).cast("long")),
          lit(0L)).as("s_s"))
      val vS = dm.groupBy("event_type", "dow", "y")
        .agg(count(lit(1)).as("t"))
        .groupBy("event_type", "dow")
        .agg(sum("t").as("ns"),
          sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5))
            .as("tie18"))
        .select(col("event_type"), col("dow"),
          (col("ns") * (col("ns") - 1) * (col("ns") * 2 + 5)
            - col("tie18")).as("v18"))
      sS.join(vS, Seq("event_type", "dow"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_seasons"), sum("s_s").as("s_stat"),
          sum("v18").as("v18"))
        .filter(col("v18") > 0)
        .withColumn("vs", col("v18") / lit(18.0))
        .select(col("event_type"), col("n_seasons"), col("s_stat"),
          round(when(col("s_stat") > 0,
              (col("s_stat") - 1) / sqrt(col("vs")))
            .when(col("s_stat") < 0,
              (col("s_stat") + 1) / sqrt(col("vs")))
            .otherwise(lit(0.0)), 4).as("z"))
        .orderBy("event_type")
    }),

    // RMSSD of the daily milli-mean changes per type (the successive-
    // difference volatility the plain sd misses) + the share of big
    // moves (|Δ| > 100 milli, stated).
    "q_rmssd" -> ((s, d) => {
      DailyGrid.mean(s, d)
        .withColumn("py", lag("y", 1).over(wo))
        .filter(col("py").isNotNull)
        .withColumn("dd", col("y") - col("py"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_diffs"),
          sum(col("dd") * col("dd")).as("sdd"),
          sum(when(abs(col("dd")) > 100, 1L).otherwise(0L)).as("big"))
        .select(col("event_type"), col("n_diffs"),
          round(sqrt(col("sdd").cast("double") / col("n_diffs")) / 1e3,
            6).as("rmssd"),
          round(col("big").cast("double") / col("n_diffs"), 6)
            .as("p_big"))
        .orderBy("event_type")
    }),

    // Weekend effect per type: Welch t between weekend (Sun/Sat) and
    // weekday µ-returns — means and cleared variances from exact
    // sums, the grid cancels inside the t, ONE identical chain.
    "q_weekend_effect" -> ((s, d) => {
      val r = DailyGrid.ret(s, d)
        .withColumn("we", dayofweek(col("d")).isin(1, 7))
      r.groupBy("event_type")
        .agg(sum(when(col("we"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("we"), col("r_u")).otherwise(0L)).as("s1"),
          sum(when(col("we"), col("r_u") * col("r_u")).otherwise(0L))
            .as("ss1"),
          sum(when(!col("we"), 1L).otherwise(0L)).as("n2"),
          sum(when(!col("we"), col("r_u")).otherwise(0L)).as("s2"),
          sum(when(!col("we"), col("r_u") * col("r_u")).otherwise(0L))
            .as("ss2"))
        .withColumn("c1", col("n1") * col("ss1") - col("s1") * col("s1"))
        .withColumn("c2", col("n2") * col("ss2") - col("s2") * col("s2"))
        .filter(col("n1") > 1 && col("n2") > 1
          && (col("c1") > 0 || col("c2") > 0))
        .select(col("event_type"), col("n1").as("n_weekend"),
          col("n2").as("n_weekday"),
          round((col("s1").cast("double") / col("n1")
            - col("s2").cast("double") / col("n2")) / 1e6, 6)
            .as("mean_diff_daily"),
          round((col("s1").cast("double") / col("n1")
              - col("s2").cast("double") / col("n2"))
            / sqrt(col("c1").cast("double")
                / (col("n1") * col("n1") * (col("n1") - lit(1L)))
              + col("c2").cast("double")
                / (col("n2") * col("n2") * (col("n2") - lit(1L)))), 4)
            .as("welch_t"))
        .orderBy("event_type")
    })
  )

  /** 20-CTE unrolled Neumann sum for the oracle: p0 = I, p_{t+1} =
    * snap(p_t · Q), acc = Σ p_t — mechanical, mirrors the driver fold
    * cell for cell. */
  private def neumannCtes: String = {
    val steps = (1 to 19).map { t =>
      s"""p$t AS (
         |  SELECT a.i, qm.j,
         |    CAST((SUM(a.p_u * qm.q_u) + 500000) // 1000000 AS BIGINT)
         |      AS p_u
         |  FROM p${t - 1} a JOIN qm ON a.j = qm.i
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val unions = (0 to 19).map(t => s"SELECT * FROM p$t")
      .mkString("\n  UNION ALL ")
    s"""$steps,
       |accu AS (
       |  $unions)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // identical doubled centered ranks and cleared F
    "q_quade" ->
      s"""WITH $dmCte,
        |wk AS (
        |  SELECT event_type, date_trunc('week', d) AS w,
        |    CAST(SUM(y) // COUNT(*) AS BIGINT) AS wv
        |  FROM dm GROUP BY 1, 2),
        |kk AS (SELECT COUNT(DISTINCT event_type) AS k FROM wk),
        |bl AS (
        |  SELECT w, MAX(wv) - MIN(wv) AS rng
        |  FROM wk, kk GROUP BY w, kk.k HAVING COUNT(*) = kk.k),
        |qb AS (
        |  SELECT w, CAST(row_number() OVER (ORDER BY rng, w) AS BIGINT)
        |    AS qb
        |  FROM bl),
        |s2 AS (
        |  SELECT wk.event_type, qb.qb
        |    * (CAST(row_number() OVER (PARTITION BY wk.w
        |        ORDER BY wk.wv, wk.event_type) AS BIGINT) * 2
        |      - (SELECT k + 1 FROM kk)) AS s2
        |  FROM wk JOIN qb ON wk.w = qb.w),
        |tj AS (
        |  SELECT CAST(SUM(t_j * t_j) AS BIGINT) AS st2
        |  FROM (SELECT CAST(SUM(s2) AS BIGINT) AS t_j
        |        FROM s2 GROUP BY event_type)),
        |ag AS (
        |  SELECT CAST(COUNT(*) / (SELECT k FROM kk) AS BIGINT) AS b,
        |    CAST(SUM(s2 * s2) AS BIGINT) AS a2
        |  FROM s2)
        |SELECT ag.b AS n_blocks,
        |  CAST((SELECT k FROM kk) AS BIGINT) AS k_groups,
        |  ROUND(CAST(ag.b - 1 AS DOUBLE) * tj.st2
        |    / (ag.b * ag.a2 - tj.st2), 4) AS f_stat
        |FROM ag, tj WHERE ag.b * ag.a2 - tj.st2 > 0""".stripMargin,

    // identical snapped per-group terms and one chain
    "q_bartlett" ->
      s"""WITH $dmCte,
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS nk,
        |    CAST(COUNT(*) AS BIGINT) * CAST(SUM(y * y) AS BIGINT)
        |      - CAST(SUM(y) AS BIGINT) * CAST(SUM(y) AS BIGINT) AS clr
        |  FROM dm GROUP BY event_type),
        |t AS (
        |  SELECT nk,
        |    CAST(ROUND(ln(CAST(clr AS DOUBLE) / (nk * (nk - 1)))
        |      * (nk - 1) * 1e9) AS BIGINT) AS term_u,
        |    CAST(ROUND(CAST(clr AS DOUBLE) * 1e6 / nk) AS BIGINT)
        |      AS spnum_u,
        |    CAST(ROUND(1e12 / (nk - 1)) AS BIGINT) AS inv_u
        |  FROM g WHERE nk > 1 AND clr > 0),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(nk) AS BIGINT) AS n_total,
        |    CAST(SUM(term_u) AS BIGINT) AS st,
        |    CAST(SUM(spnum_u) AS BIGINT) AS sp,
        |    CAST(SUM(inv_u) AS BIGINT) AS si
        |  FROM t)
        |SELECT k AS k_groups, n_total,
        |  ROUND(((n_total - k)
        |      * ln(CAST(sp AS DOUBLE) / (1e6 * (n_total - k)))
        |    - st / 1e9)
        |    / (1.0 + (si / 1e12 - 1.0 / (n_total - k))
        |      / ((k - 1) * 3.0)), 4) AS bartlett_stat
        |FROM ag WHERE k > 1 AND n_total > k""".stripMargin,

    // identical snapped Q cells and the same 20-step unroll
    "q_markov_absorption" ->
      s"""WITH cnt AS (
        |  SELECT event_type AS i, nx AS j, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (
        |    SELECT event_type,
        |      lead(event_type) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id) AS nx
        |    FROM events)
        |  WHERE nx IS NOT NULL GROUP BY 1, 2),
        |tt AS (SELECT i, CAST(SUM(n) AS BIGINT) AS t
        |       FROM cnt GROUP BY 1),
        |qm AS (
        |  SELECT cnt.i, cnt.j,
        |    CAST(ROUND(cnt.n * 1e6 / tt.t) AS BIGINT) AS q_u
        |  FROM cnt JOIN tt ON cnt.i = tt.i
        |  WHERE cnt.i <> 'purchase' AND cnt.j <> 'purchase'),
        |p0 AS (
        |  SELECT DISTINCT i, i AS j, CAST(1000000 AS BIGINT) AS p_u
        |  FROM qm),
        |$neumannCtes
        |SELECT i AS state,
        |  ROUND(CAST(SUM(p_u) AS BIGINT) / 1e6, 4) AS exp_steps_20
        |FROM accu GROUP BY 1 ORDER BY state""".stripMargin,

    // identical per-season S and tie-corrected v18 sums
    "q_seasonal_mk" ->
      s"""WITH $dmCte,
        |dw AS (
        |  SELECT event_type, dayofweek(d) AS dow, d, y FROM dm),
        |ss AS (
        |  SELECT a.event_type, a.dow,
        |    COALESCE(CAST(SUM(CASE WHEN b.y > a.y THEN 1
        |      WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT), 0) AS s_s
        |  FROM dw a JOIN dw b ON a.event_type = b.event_type
        |    AND a.dow = b.dow AND b.d > a.d
        |  GROUP BY 1, 2),
        |vv AS (
        |  SELECT event_type, dow,
        |    CAST(ns * (ns - 1) * (ns * 2 + 5) - tie18 AS BIGINT) AS v18
        |  FROM (SELECT event_type, dow,
        |          CAST(SUM(t) AS BIGINT) AS ns,
        |          CAST(SUM(t * (t - 1) * (t * 2 + 5)) AS BIGINT)
        |            AS tie18
        |        FROM (SELECT event_type, dow, y,
        |                CAST(COUNT(*) AS BIGINT) AS t
        |              FROM dw GROUP BY 1, 2, 3)
        |        GROUP BY 1, 2)),
        |ag AS (
        |  SELECT ss.event_type,
        |    CAST(COUNT(*) AS BIGINT) AS n_seasons,
        |    CAST(SUM(ss.s_s) AS BIGINT) AS s_stat,
        |    CAST(SUM(vv.v18) AS BIGINT) AS v18
        |  FROM ss JOIN vv ON ss.event_type = vv.event_type
        |    AND ss.dow = vv.dow
        |  GROUP BY 1)
        |SELECT event_type, n_seasons, s_stat,
        |  ROUND(CASE WHEN s_stat > 0
        |      THEN (s_stat - 1) / sqrt(v18 / 18.0)
        |    WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(v18 / 18.0)
        |    ELSE 0.0 END, 4) AS z
        |FROM ag WHERE v18 > 0 ORDER BY event_type""".stripMargin,

    // identical exact diff sums
    "q_rmssd" ->
      s"""WITH $dmCte,
        |df AS (
        |  SELECT event_type, y - py AS dd
        |  FROM (SELECT event_type, y,
        |          lag(y) OVER (PARTITION BY event_type ORDER BY d)
        |            AS py
        |        FROM dm)
        |  WHERE py IS NOT NULL),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_diffs,
        |    CAST(SUM(dd * dd) AS BIGINT) AS sdd,
        |    CAST(SUM(CASE WHEN ABS(dd) > 100 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS big
        |  FROM df GROUP BY 1)
        |SELECT event_type, n_diffs,
        |  ROUND(sqrt(CAST(sdd AS DOUBLE) / n_diffs) / 1e3, 6) AS rmssd,
        |  ROUND(CAST(big AS DOUBLE) / n_diffs, 6) AS p_big
        |FROM ag ORDER BY event_type""".stripMargin,

    // identical cleared Welch chain
    "q_weekend_effect" ->
      s"""WITH ${DailyGrid.retCte},
        |fl AS (
        |  SELECT event_type, r_u,
        |    dayofweek(d) IN (0, 6) AS we
        |  FROM ret),
        |ag AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN we THEN r_u ELSE 0 END) AS BIGINT) AS s1,
        |    CAST(SUM(CASE WHEN we THEN r_u * r_u ELSE 0 END) AS BIGINT)
        |      AS ss1,
        |    CAST(SUM(CASE WHEN NOT we THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n2,
        |    CAST(SUM(CASE WHEN NOT we THEN r_u ELSE 0 END) AS BIGINT)
        |      AS s2,
        |    CAST(SUM(CASE WHEN NOT we THEN r_u * r_u ELSE 0 END)
        |      AS BIGINT) AS ss2
        |  FROM fl GROUP BY 1),
        |cl AS (
        |  SELECT event_type, n1, n2, s1, s2,
        |    n1 * ss1 - s1 * s1 AS c1, n2 * ss2 - s2 * s2 AS c2
        |  FROM ag
        |  WHERE n1 > 1 AND n2 > 1
        |    AND (n1 * ss1 - s1 * s1 > 0 OR n2 * ss2 - s2 * s2 > 0))
        |SELECT event_type, n1 AS n_weekend, n2 AS n_weekday,
        |  ROUND((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
        |    / 1e6, 6) AS mean_diff_daily,
        |  ROUND((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
        |    / sqrt(CAST(c1 AS DOUBLE) / (n1 * n1 * (n1 - 1))
        |      + CAST(c2 AS DOUBLE) / (n2 * n2 * (n2 - 1))), 4)
        |    AS welch_t
        |FROM cl ORDER BY event_type""".stripMargin
  )
}
