package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.expr.Registry
import graft.tables.Tables

/** Round-9 wave 15 (SURVEY.md §2 B.10b): entity-resolution eval,
  * uplift, text segmentation, exact interpolated percentiles, tail
  * asymmetry, and experiment health — blocking quality (pair
  * completeness / reduction ratio of the sorted-neighborhood
  * candidates vs a first-char-blocked exact truth, stated), the Qini
  * uplift curve over activity deciles (wave-14's share-threshold
  * treatment), sentence-level corpus stats, percentile interpolation
  * with the ×4 denominator cleared to exact longs, the p95/p5 tail
  * ratio from exact order statistics, and the sample-ratio-mismatch
  * χ². Exact integers to the last division.
  */
object StatsR9o {

  import DailyGrid.wp

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Blocking quality of the q_sorted_neighborhood candidates
    // (window 2, jw ≥ 0.92): truth = same-first-3-words pairs at the
    // same threshold (the coarse-block truth a 100 TB ER run can
    // actually materialize — stated); PC = |cand ∩ truth|/|truth|,
    // RR = 1 − |cand|/Σ_b C(n_b,2).
    "q_blocking_quality" -> ((s, d) => {
      Registry.ensure(s)
      val parts = Tables.part(s, d).select("p_partkey", "p_name")
        .withColumn("blk", concat_ws(" ", slice(split(col("p_name"), " "), 1, 3)))
        .localCheckpoint(eager = true) // truth + universe legs
      val truth = parts.select(col("blk"), col("p_partkey").as("a_id"),
          col("p_name").as("a_name"))
        .join(parts.select(col("blk"), col("p_partkey").as("b_id"),
          col("p_name").as("b_name")), "blk")
        .filter(col("a_id") < col("b_id"))
        .filter(round(expr("jaro_winkler(a_name, b_name)"), 6) >= 0.92)
        .select(least(col("a_id"), col("b_id")).as("x"),
          greatest(col("a_id"), col("b_id")).as("y"))
      // session memo (r13 opt): the candidate derivation (rank + two
      // successor joins + JW verify) runs once for q_sorted_neighborhood
      // and this key; the memo is already materialized, so the extra
      // localCheckpoint copy is gone too (x/y normalize + distinct stay)
      val cand = Analytics.sortedNeighborhoodPairs(s, d)
        .select(least(col("a_id"), col("b_id")).as("x"),
          greatest(col("a_id"), col("b_id")).as("y")).distinct()
      val universe = parts.groupBy("blk").agg(count(lit(1)).as("nb"))
        .agg(sum(col("nb") * (col("nb") - 1) / 2).cast("long")
          .as("n_universe"))
      val nT = truth.agg(count(lit(1)).as("n_true"))
      val nC = cand.agg(count(lit(1)).as("n_cand"))
      val hit = cand.join(truth, Seq("x", "y"))
        .agg(count(lit(1)).as("n_hit"))
      nT.crossJoin(nC).crossJoin(hit).crossJoin(universe)
        .filter(col("n_true") > 0 && col("n_universe") > 0)
        .select(col("n_true"), col("n_cand"),
          round(col("n_hit").cast("double") / col("n_true"), 4)
            .as("pair_completeness"),
          round(lit(1.0) - col("n_cand").cast("double")
            / col("n_universe"), 6).as("reduction_ratio"))
    }),

    // Qini uplift curve over activity deciles (score = n_events desc;
    // treatment/outcome = wave-14's exact share conventions): per
    // cumulative decile g = cumY1 − cumY0·cumNt/cumNc, one identical
    // chain per bounded row.
    "q_qini_curve" -> ((s, d) => {
      val users0 = Tables.events(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).as("ne"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("nc"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("np"))
        .withColumn("t", when(expr("nc * 1000 div ne") >= 200, 1L)
          .otherwise(0L))
        .withColumn("ym", expr("np * 1000 div ne"))
      // user-grain decile assignment → range-partitioned rank + the
      // closed-form standard NTILE (r10 VERDICT task 4)
      val ranked = graft.operators.PrefixSum.rank(users0,
        Seq(col("ne").desc, col("user_id")), "rn")
      val users = ranked
        .crossJoin(broadcast(ranked.agg(max("rn").as("nu"))))
        .withColumn("dec",
          expr(graft.operators.PrefixSum.ntileExpr("rn", "nu", 10)))
      val byDec = users.groupBy("dec")
        .agg(sum(when(col("t") === 1, 1L).otherwise(0L)).as("nt"),
          sum(when(col("t") === 0, 1L).otherwise(0L)).as("nct"),
          sum(when(col("t") === 1, col("ym")).otherwise(0L)).as("y1"),
          sum(when(col("t") === 0, col("ym")).otherwise(0L)).as("y0"))
      // bounded grain: fixed 10-decile rollup
      val w = Window.orderBy("dec")
        .rowsBetween(Window.unboundedPreceding, 0)
      byDec
        .withColumn("cnt", sum("nt").over(w))
        .withColumn("cnc", sum("nct").over(w))
        .withColumn("cy1", sum("y1").over(w))
        .withColumn("cy0", sum("y0").over(w))
        .filter(col("cnc") > 0)
        .select(col("dec").cast("long").as("decile"),
          col("cnt").as("cum_treated"), col("cnc").as("cum_control"),
          round((col("cy1").cast("double")
            - col("cy0").cast("double") * col("cnt") / col("cnc"))
            / 1000.0, 4).as("qini"))
        .orderBy("decile")
    }),

    // Sentence-level corpus stats per language: sentences split on
    // the literal '. ' boundary (stated), exact token/sentence
    // ratios.
    "q_sentence_stats" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("lang"),
          size(split(col("text"), "\\. ")).cast("long").as("ns"),
          size(split(col("text"), " ")).cast("long").as("nt"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("ns").as("n_sentences"),
          sum("nt").as("n_tokens"))
        .select(col("lang"), col("n_docs"), col("n_sentences"),
          round(col("n_sentences").cast("double") / col("n_docs"), 4)
            .as("sent_per_doc"),
          round(col("n_tokens").cast("double") / col("n_sentences"), 4)
            .as("tokens_per_sent"))
        .orderBy("lang")
    }),

    // Interpolated percentiles p25/p50/p75 of the daily milli means
    // per type: position (n−1)·q cleared by ×4 — pos4 div/mod 4 give
    // exact lower index and fractional weight, val4 = x_l(4−f)+x_u·f
    // stays a long; ONE division per emitted cell.
    "q_percentile_interp" -> ((s, d) => {
      val wr = Window.partitionBy("event_type").orderBy("y", "d")
      val ranked = DailyGrid.mean(s, d)
        .withColumn("rn", row_number().over(wr).cast("long"))
        .withColumn("n", count(lit(1)).over(wp))
      def interp(q4: Int): org.apache.spark.sql.Column = {
        val pos4 = (col("n") - 1) * q4
        val lo = expr(s"((n - 1) * $q4) div 4") + 1
        val f = pos4 % 4
        (sum(when(col("rn") === lo, col("y")).otherwise(0L)) * (lit(4) - max(f))
          + sum(when(col("rn") === lo + 1, col("y")).otherwise(0L)) * max(f))
      }
      ranked.groupBy("event_type")
        .agg(max("n").as("n_days"),
          interp(1).as("v25"), interp(2).as("v50"), interp(3).as("v75"))
        .select(col("event_type"), col("n_days"),
          round(col("v25") / 4000.0, 6).as("p25"),
          round(col("v50") / 4000.0, 6).as("p50"),
          round(col("v75") / 4000.0, 6).as("p75"))
        .orderBy("event_type")
    }),

    // Tail ratio p95/|p5| per type on µ returns: exact ceil-rank
    // order statistics (no interpolation, stated), one division.
    "q_tail_ratio" -> ((s, d) => {
      val wr = Window.partitionBy("event_type").orderBy("r_u", "d")
      DailyGrid.ret(s, d)
        .withColumn("rn", row_number().over(wr).cast("long"))
        .withColumn("n", count(lit(1)).over(wp))
        .groupBy("event_type")
        .agg(max("n").as("n_ret"),
          max(when(col("rn") === ceil(col("n") * 0.95).cast("long"),
            col("r_u"))).as("x95"),
          max(when(col("rn") === ceil(col("n") * 0.05).cast("long"),
            col("r_u"))).as("x5"))
        .filter(col("x5") < 0 && col("x95") > 0)
        .select(col("event_type"), col("n_ret"),
          round(col("x95") / 1e6, 6).as("p95"),
          round(col("x5") / 1e6, 6).as("p5"),
          round(col("x95").cast("double") / -col("x5"), 4)
            .as("tail_ratio"))
        .orderBy("event_type")
    }),

    // Sample-ratio-mismatch χ² for the user-parity A/B split: two
    // arms vs a 50/50 expectation — (o0−o1)²/n exactly, flag at the
    // 3.84 (α=0.05, df=1) line.
    "q_ab_srm" -> ((s, d) => {
      Tables.events(s, d).select("user_id").distinct()
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L))
            .as("arm0"),
          sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L))
            .as("arm1"))
        .select(col("n_users"), col("arm0"), col("arm1"),
          round((col("arm0") - col("arm1"))
            * (col("arm0") - col("arm1"))
            / col("n_users").cast("double"), 6).as("srm_chi2"),
          ((col("arm0") - col("arm1")) * (col("arm0") - col("arm1"))
            / col("n_users").cast("double") > 3.84).as("srm_flag"))
    })
  )

  val oracle: Map[String, String] = Map(
    // cand leg = the q_sorted_neighborhood oracle verbatim;
    // identical first-char truth
    "q_blocking_quality" ->
      s"""WITH cand0 AS (${Analytics.oracle("q_sorted_neighborhood")}),
        |cand AS (
        |  SELECT DISTINCT LEAST(a_id, b_id) AS x,
        |    GREATEST(a_id, b_id) AS y
        |  FROM cand0),
        |pp AS (
        |  SELECT p_partkey, p_name, array_to_string(string_split(p_name, ' ')[1:3], ' ') AS blk
        |  FROM part),
        |tr AS (
        |  SELECT LEAST(a.p_partkey, b.p_partkey) AS x,
        |    GREATEST(a.p_partkey, b.p_partkey) AS y
        |  FROM pp a JOIN pp b ON a.blk = b.blk
        |    AND a.p_partkey < b.p_partkey
        |  WHERE ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.92),
        |un AS (
        |  SELECT CAST(SUM(nb * (nb - 1) / 2) AS BIGINT) AS n_universe
        |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS nb
        |        FROM pp GROUP BY blk)),
        |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM tr),
        |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand),
        |hi AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
        |  FROM cand JOIN tr ON cand.x = tr.x AND cand.y = tr.y)
        |SELECT nt.n_true, nc.n_cand,
        |  ROUND(CAST(hi.n_hit AS DOUBLE) / nt.n_true, 4)
        |    AS pair_completeness,
        |  ROUND(1.0 - CAST(nc.n_cand AS DOUBLE) / un.n_universe, 6)
        |    AS reduction_ratio
        |FROM nt, nc, hi, un
        |WHERE nt.n_true > 0 AND un.n_universe > 0""".stripMargin,

    // identical share conventions and cumulative chain
    "q_qini_curve" ->
      """WITH us AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS ne,
        |    CASE WHEN SUM(CASE WHEN event_type = 'click' THEN 1
        |        ELSE 0 END) * 1000 // COUNT(*) >= 200
        |      THEN 1 ELSE 0 END AS t,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) * 1000 // COUNT(*) AS BIGINT) AS ym
        |  FROM events GROUP BY 1),
        |bn AS (
        |  SELECT *, ntile(10) OVER (ORDER BY ne DESC, user_id) AS dec
        |  FROM us),
        |ag AS (
        |  SELECT dec,
        |    CAST(SUM(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nt,
        |    CAST(SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nct,
        |    CAST(SUM(CASE WHEN t = 1 THEN ym ELSE 0 END) AS BIGINT)
        |      AS y1,
        |    CAST(SUM(CASE WHEN t = 0 THEN ym ELSE 0 END) AS BIGINT)
        |      AS y0
        |  FROM bn GROUP BY 1),
        |cm AS (
        |  SELECT dec,
        |    CAST(SUM(nt) OVER w AS BIGINT) AS cnt,
        |    CAST(SUM(nct) OVER w AS BIGINT) AS cnc,
        |    CAST(SUM(y1) OVER w AS BIGINT) AS cy1,
        |    CAST(SUM(y0) OVER w AS BIGINT) AS cy0
        |  FROM ag
        |  WINDOW w AS (ORDER BY dec
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT CAST(dec AS BIGINT) AS decile, cnt AS cum_treated,
        |  cnc AS cum_control,
        |  ROUND((CAST(cy1 AS DOUBLE)
        |    - CAST(cy0 AS DOUBLE) * cnt / cnc) / 1000.0, 4) AS qini
        |FROM cm WHERE cnc > 0 ORDER BY decile""".stripMargin,

    // identical literal '. ' split and exact ratios
    "q_sentence_stats" ->
      """WITH t AS (
        |  SELECT lang,
        |    CAST(len(string_split(text, '. ')) AS BIGINT) AS ns,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents),
        |ag AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(ns) AS BIGINT) AS n_sentences,
        |    CAST(SUM(nt) AS BIGINT) AS n_tokens
        |  FROM t GROUP BY 1)
        |SELECT lang, n_docs, n_sentences,
        |  ROUND(CAST(n_sentences AS DOUBLE) / n_docs, 4)
        |    AS sent_per_doc,
        |  ROUND(CAST(n_tokens AS DOUBLE) / n_sentences, 4)
        |    AS tokens_per_sent
        |FROM ag ORDER BY lang""".stripMargin,

    // identical ×4-cleared interpolation
    "q_percentile_interp" ->
      s"""WITH ${DailyGrid.dmCte},
        |rk AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY y, d) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n
        |  FROM dm),
        |ag AS (
        |  SELECT event_type, MAX(n) AS n_days,
        |    SUM(CASE WHEN rn = ((n - 1) * 1) // 4 + 1 THEN y ELSE 0
        |        END) * (4 - MAX(((n - 1) * 1) % 4))
        |      + SUM(CASE WHEN rn = ((n - 1) * 1) // 4 + 2 THEN y
        |        ELSE 0 END) * MAX(((n - 1) * 1) % 4) AS v25,
        |    SUM(CASE WHEN rn = ((n - 1) * 2) // 4 + 1 THEN y ELSE 0
        |        END) * (4 - MAX(((n - 1) * 2) % 4))
        |      + SUM(CASE WHEN rn = ((n - 1) * 2) // 4 + 2 THEN y
        |        ELSE 0 END) * MAX(((n - 1) * 2) % 4) AS v50,
        |    SUM(CASE WHEN rn = ((n - 1) * 3) // 4 + 1 THEN y ELSE 0
        |        END) * (4 - MAX(((n - 1) * 3) % 4))
        |      + SUM(CASE WHEN rn = ((n - 1) * 3) // 4 + 2 THEN y
        |        ELSE 0 END) * MAX(((n - 1) * 3) % 4) AS v75
        |  FROM rk GROUP BY 1)
        |SELECT event_type, n_days,
        |  ROUND(v25 / 4000.0, 6) AS p25,
        |  ROUND(v50 / 4000.0, 6) AS p50,
        |  ROUND(v75 / 4000.0, 6) AS p75
        |FROM ag ORDER BY event_type""".stripMargin,

    // identical ceil-rank order statistics
    "q_tail_ratio" ->
      s"""WITH ${DailyGrid.retCte},
        |rk AS (
        |  SELECT event_type, r_u,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY r_u, d) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n
        |  FROM ret),
        |ag AS (
        |  SELECT event_type, MAX(n) AS n_ret,
        |    MAX(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT)
        |      THEN r_u END) AS x95,
        |    MAX(CASE WHEN rn = CAST(ceil(n * 0.05) AS BIGINT)
        |      THEN r_u END) AS x5
        |  FROM rk GROUP BY 1)
        |SELECT event_type, n_ret,
        |  ROUND(x95 / 1e6, 6) AS p95, ROUND(x5 / 1e6, 6) AS p5,
        |  ROUND(CAST(x95 AS DOUBLE) / -x5, 4) AS tail_ratio
        |FROM ag WHERE x5 < 0 AND x95 > 0
        |ORDER BY event_type""".stripMargin,

    // identical parity χ²
    "q_ab_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS arm0,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS arm1
        |  FROM u)
        |SELECT n_users, arm0, arm1,
        |  ROUND((arm0 - arm1) * (arm0 - arm1)
        |    / CAST(n_users AS DOUBLE), 6) AS srm_chi2,
        |  (arm0 - arm1) * (arm0 - arm1) / CAST(n_users AS DOUBLE)
        |    > 3.84 AS srm_flag
        |FROM ag""".stripMargin
  )
}
