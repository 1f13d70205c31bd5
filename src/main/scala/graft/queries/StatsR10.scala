package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Round-10 wave 1 (SURVEY.md §2 B.10b/B.12): deterministic sampling
  * audits and sequential/robust statistics a 100 TB curation pipeline
  * runs per ingestion batch — hash-priority uniform and
  * weight-proportional (priority) sampling with their estimator
  * audits, leave-one-day-out jackknife error bars, blocked
  * edit-distance entity resolution, Allan variance of arrival
  * stability, Wald's SPRT with exact integer log-likelihood state,
  * and Tukey median polish of the (type × weekday) value grid.
  *
  * House conventions throughout: exact centi/1e9 integer grids until
  * one final division; Knuth multiplicative hashes reduced mod 2^63
  * in DECIMAL space (ANSI-safe at any id scale, HUGEINT in the
  * oracles); Spark weekday(ts) ≡ DuckDB isodow(ts)−1.
  */
object StatsR10 {

  /** Knuth priority of an id column, reduced mod 2^63 (ANSI-safe). */
  private def knuth63(c: String): String =
    s"CAST(pmod(CAST($c AS DECIMAL(38,0)) * 2654435761," +
      " 9223372036854775808) AS BIGINT)"

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Deterministic k=100 uniform sample per type by Knuth priority
    // on event_id (the reproducible stand-in for a random reservoir:
    // rank by hash is a fixed permutation, so the "sample" is stable
    // across runs/engines). Audit = sample mean vs population mean of
    // the centi value — the estimator-quality report a sampling stage
    // publishes. One rank window at type grain + one rollup.
    "q_reservoir_sample" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          round(col("value") * 100).cast("long").as("vc"))
        .withColumn("pr", expr(knuth63("event_id")))
      val w = Window.partitionBy("event_type")
        .orderBy(col("pr"), col("event_id"))
      ev.withColumn("rk", row_number().over(w))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pop"),
          sum("vc").as("sv"),
          sum(when(col("rk") <= 100, 1L).otherwise(0L)).as("n_sample"),
          sum(when(col("rk") <= 100, col("vc")).otherwise(0L)).as("ssv"))
        .select(col("event_type"), col("n_pop"), col("n_sample"),
          round(col("sv").cast("double") / col("n_pop") / 100, 4)
            .as("pop_mean"),
          round(col("ssv").cast("double") / col("n_sample") / 100, 4)
            .as("sample_mean"))
        .orderBy("event_type")
    }),

    // Priority sampling (Duffield–Lund–Thorup) of purchase events,
    // weight-proportional WITHOUT replacement: priority q = w/u with
    // u = (knuth(id)+1)/2^63 ∈ (0,1], take the k=50 largest per type;
    // threshold τ = the (k+1)-th priority; the unbiased total
    // estimator Σ max(w_i, τ) over the sample is audited against the
    // true Σw. Every quantity is one division from exact longs, so
    // both engines walk identical doubles.
    "q_pps_sample" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          round(col("value") * 100).cast("long").as("w"))
        .filter(col("w") > 0)
        // +1 happens in DECIMAL space (a BIGINT +1 at 2^63−1 would
        // overflow under ANSI); 2^63 is a power of two so the double
        // literal is exact and u ∈ (0, 1]
        .withColumn("u",
          expr("CAST(pmod(CAST(event_id AS DECIMAL(38,0))" +
            " * 2654435761, 9223372036854775808) + 1 AS DOUBLE)" +
            " / 9.223372036854776e18"))
        .withColumn("q", col("w") / col("u"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("q").desc, col("event_id"))
      val ranked = ev.withColumn("rk", row_number().over(w))
        .localCheckpoint(eager = true) // sample leg + threshold leg
      val tau = ranked.filter(col("rk") === 51)
        .select(col("event_type"), col("q").as("tau"))
      ranked.join(broadcast(tau), Seq("event_type"), "left")
        .withColumn("tau", coalesce(col("tau"), lit(0.0)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pop"), sum("w").as("tw"),
          sum(when(col("rk") <= 50, 1L).otherwise(0L)).as("k"),
          sum(when(col("rk") <= 50,
            greatest(col("w").cast("double"), col("tau")))
            .otherwise(0.0)).as("est"))
        .select(col("event_type"), col("n_pop"), col("k"),
          round(col("tw") / 100.0, 2).as("true_total"),
          round(col("est") / 100.0, 2).as("pps_estimate"),
          round(abs(col("est") - col("tw")) / col("tw"), 6)
            .as("rel_err"))
        .orderBy("event_type")
    }),

    // Leave-one-day-out jackknife of the mean daily revenue per type.
    // For the mean the delete-1 jackknife SE reduces EXACTLY to
    // √((n·Σc² − (Σc)²) / (n²(n−1))) over the day sums c_i — the
    // whole statistic clears to one integer expression (DECIMAL here,
    // HUGEINT in the oracle: n·Σc² reaches ~3e19 at sf1) and one
    // final sqrt, so no double-summation-order risk anywhere. The
    // identity IS the contract: a jackknife machinery whose mean-case
    // output provably equals the classic SE.
    "q_jackknife" -> ((s, d) => {
      DailyGrid.centi(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("st"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sc2"))
        .filter(col("n") > 1)
        .select(col("event_type"), col("n").as("n_days"),
          round(col("st").cast("double") / col("n") / 100, 4)
            .as("daily_mean"),
          round(sqrt((col("n") * col("sc2")
              - col("st").cast("decimal(38,0)") * col("st"))
              .cast("double")
            / (col("n").cast("double") * col("n") * (col("n") - 1)))
            / 100, 6).as("jackknife_se"))
        .orderBy("event_type")
    }),

    // Blocked edit-distance entity resolution over part names:
    // candidate pairs share (brand, first name token) — the standard
    // ER blocking key, bounding the quadratic strictly inside blocks —
    // and the 20 closest pairs by Levenshtein ship for review.
    // RECALL CONTRACT (stated): cross-block pairs are not candidates,
    // and each block caps at its 128 smallest partkeys (the house
    // per-bucket cap — measured 158 s at sf1 uncapped when the 10×
    // fixture multiplied every block; 128²/2 bounds the edit-distance
    // calls per block); at 100 TB add more blocking passes
    // (sorted-neighborhood, q-gram) the same shape. Both engines run
    // classic Levenshtein and the IDENTICAL cap.
    "q_fuzzy_levenshtein" -> ((s, d) => {
      val p = Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_name"),
          split(col("p_name"), " ").getItem(0).as("blk"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("p_brand", "blk").orderBy("p_partkey")))
        .filter(col("rk") <= 128)
        .localCheckpoint(eager = true) // both join sides
      val a = p.select(col("p_brand"), col("blk"),
        col("p_partkey").as("p1"), col("p_name").as("n1"))
      val b = p.select(col("p_brand").as("brand_b"),
        col("blk").as("blk_b"), col("p_partkey").as("p2"),
        col("p_name").as("n2"))
      a.join(b, col("p_brand") === col("brand_b")
          && col("blk") === col("blk_b") && col("p1") < col("p2"))
        .select(col("p1"), col("p2"),
          levenshtein(col("n1"), col("n2")).cast("long").as("lev"))
        .orderBy(col("lev"), col("p1"), col("p2"))
        .limit(20)
    }),

    // Allan variance of the daily arrival rate per type at τ ∈
    // {1,2,4} observation bins: AVAR(τ) = Σ(S_{i+1}−S_i)² /
    // (2(M−1)τ²) over complete-bin count sums — the clock-stability
    // lens on ingestion cadence (white noise ⇒ AVAR halves per τ
    // doubling; drift ⇒ it doesn't). Exact long bin sums and
    // successive differences; one division at the end.
    "q_allan_variance" -> ((s, d) => {
      val day = DailyGrid.mean(s, d)
        .select(col("event_type"), col("cnt").as("c"), (col("i") - 1).as("t"))
      Seq(1L, 2L, 4L).map { tau =>
        val bins = day.withColumn("b", floor(col("t") / tau))
          .groupBy("event_type", "b")
          .agg(count(lit(1)).as("nb"), sum("c").as("sb"))
          .filter(col("nb") === tau)
        val wb = Window.partitionBy("event_type").orderBy("b")
        bins.withColumn("prev", lag("sb", 1).over(wb))
          .filter(col("prev").isNotNull)
          .withColumn("d2", (col("sb") - col("prev"))
            * (col("sb") - col("prev")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("m1"), sum("d2").as("sd2"))
          .select(col("event_type"), lit(tau).as("tau"),
            (col("m1") + 1).as("m_bins"),
            round(col("sd2").cast("double")
              / (lit(2.0) * col("m1") * tau * tau), 6).as("avar"))
      }.reduce(_ unionAll _).orderBy("event_type", "tau")
    }),

    // Wald's SPRT per type on the high-value indicator x = 1{value >
    // 50.00}, H0 p=0.4 vs H1 p=0.5, α=β=0.05: per-event LLR
    // increments snapped to the 1e9 integer grid (ln(1.25), ln(5/6) —
    // both engines snap their own LN to the same long), cumulative
    // sum in (ts, id) order, decision at the FIRST |LLR| ≥ ln(19)
    // crossing. The sequential A/B machinery over exact integer
    // state; 'continue' rows report the final LLR. SCALE NOTE: a
    // sequential test is INHERENTLY ordered — the per-type prefix sum
    // is one sorted partition per type here; the 100 TB shape is the
    // O(1)-state streaming twin (s_stream_sprt), which never
    // materializes the sequence.
    "q_sprt_boundary" -> ((s, d) => {
      // 5.0D/6.0D NOT 5.0/6.0: Spark parses bare x.y literals as
      // DECIMAL, and decimal division truncates the quotient's scale
      // before LN sees it (measured: −182321957 vs the true snapped
      // −182321557) — the double suffix keeps the whole chain IEEE
      val incA = "CAST(ROUND(LN(1.25D) * 1e9) AS BIGINT)"
      val incB = "CAST(ROUND(LN(5.0D / 6.0D) * 1e9) AS BIGINT)"
      val bound = "CAST(ROUND(LN(19.0D) * 1e9) AS BIGINT)"
      val wt = Window.partitionBy("event_type")
        .orderBy(unix_micros(col("ts")), col("event_id"))
      val seqd = Tables.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"),
          expr(s"CASE WHEN CAST(ROUND(value * 100) AS BIGINT) > 5000" +
            s" THEN $incA ELSE $incB END").as("inc"))
        .withColumn("rn", row_number().over(wt).cast("long"))
        .withColumn("cum", sum("inc").over(
          wt.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("b", expr(bound))
        .localCheckpoint(eager = true) // crossing leg + final leg
      val crossed = seqd
        .filter(col("cum") >= col("b") || col("cum") <= -col("b"))
        .withColumn("crn", row_number().over(
          Window.partitionBy("event_type").orderBy("rn")))
        .filter(col("crn") === 1)
        .select(col("event_type"),
          when(col("cum") >= col("b"), "accept_h1")
            .otherwise("accept_h0").as("decision"),
          col("rn").as("n_events"),
          round(col("cum") / 1e9, 6).as("llr"))
      val wLast = Window.partitionBy("event_type")
        .orderBy(col("rn").desc)
      val finals = seqd
        .join(crossed.select(col("event_type").as("et2")),
          col("event_type") === col("et2"), "left_anti")
        .withColumn("lrn", row_number().over(wLast))
        .filter(col("lrn") === 1)
        .select(col("event_type"), lit("continue").as("decision"),
          col("rn").as("n_events"),
          round(col("cum") / 1e9, 6).as("llr"))
      crossed.unionByName(finals).orderBy("event_type")
    }),

    // Tukey median polish (2 sweeps) of the mean centi value over the
    // (event_type × weekday) grid — the robust two-way decomposition
    // that survives a corrupted cell where the two-way-FE means do
    // not. Both grid dimensions are ODD (5 types, 7 weekdays), so
    // every median is an exact middle element — no interpolation, no
    // cross-engine FP risk. Cell means are one division from exact
    // longs; effects/residuals are sums of such values.
    "q_median_polish" -> ((s, d) => {
      val g = Tables.events(s, d)
        .select(col("event_type"), expr("weekday(ts)").as("dow"),
          round(col("value") * 100).cast("long").as("vc"))
        .groupBy("event_type", "dow")
        .agg((sum("vc").cast("double") / count(lit(1))).as("x"))
        .localCheckpoint(eager = true)
      val rm1 = g.groupBy("event_type")
        .agg(expr("percentile(x, 0.5)").as("m1"))
      val g1 = g.join(broadcast(rm1), "event_type")
        .withColumn("r", col("x") - col("m1"))
      val cm1 = g1.groupBy("dow")
        .agg(expr("percentile(r, 0.5)").as("c1"))
      val g2 = g1.join(broadcast(cm1), "dow")
        .withColumn("r2", col("r") - col("c1"))
      val rm2 = g2.groupBy("event_type")
        .agg(expr("percentile(r2, 0.5)").as("m2"))
      val g3 = g2.join(broadcast(rm2), "event_type")
        .withColumn("r3", col("r2") - col("m2"))
      val cm2 = g3.groupBy("dow")
        .agg(expr("percentile(r3, 0.5)").as("c2"))
      g3.join(broadcast(cm2), "dow")
        .select(col("event_type"), col("dow").cast("long").as("dow"),
          round((col("r3") - col("c2")) / 100, 6).as("residual"),
          round((col("m1") + col("m2")) / 100, 6).as("row_effect"),
          round((col("c1") + col("c2")) / 100, 6).as("col_effect"))
        .orderBy("event_type", "dow")
    })
  )

  private val knuthHuge =
    "((CAST(event_id AS HUGEINT) * 2654435761) % 9223372036854775808)"

  val oracle: Map[String, String] = Map(
    // identical Knuth priority rank
    "q_reservoir_sample" ->
      s"""WITH ev AS (
        |  SELECT event_type, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS vc,
        |    $knuthHuge AS pr
        |  FROM events),
        |rk AS (
        |  SELECT event_type, vc,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY pr, event_id) AS rk
        |  FROM ev)
        |SELECT event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_pop,
        |  CAST(SUM(CASE WHEN rk <= 100 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_sample,
        |  ROUND(CAST(SUM(vc) AS DOUBLE) / COUNT(*) / 100, 4)
        |    AS pop_mean,
        |  ROUND(CAST(SUM(CASE WHEN rk <= 100 THEN vc ELSE 0 END)
        |      AS DOUBLE)
        |    / SUM(CASE WHEN rk <= 100 THEN 1 ELSE 0 END) / 100, 4)
        |    AS sample_mean
        |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical priority-sampling threshold estimator
    "q_pps_sample" ->
      s"""WITH ev AS (
        |  SELECT event_type, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS w,
        |    CAST(($knuthHuge + 1) AS DOUBLE)
        |      / 9.223372036854776e18 AS u
        |  FROM events
        |  WHERE CAST(ROUND(value * 100) AS BIGINT) > 0),
        |rk AS (
        |  SELECT event_type, w, w / u AS q,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY w / u DESC, event_id) AS rk
        |  FROM ev),
        |tau AS (
        |  SELECT event_type, q AS tau FROM rk WHERE rk = 51)
        |SELECT rk.event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_pop,
        |  CAST(SUM(CASE WHEN rk.rk <= 50 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS k,
        |  ROUND(SUM(rk.w) / 100.0, 2) AS true_total,
        |  ROUND(SUM(CASE WHEN rk.rk <= 50
        |    THEN GREATEST(CAST(rk.w AS DOUBLE), COALESCE(tau.tau, 0.0))
        |    ELSE 0.0 END) / 100.0, 2) AS pps_estimate,
        |  ROUND(ABS(SUM(CASE WHEN rk.rk <= 50
        |      THEN GREATEST(CAST(rk.w AS DOUBLE), COALESCE(tau.tau, 0.0))
        |      ELSE 0.0 END) - SUM(rk.w)) / SUM(rk.w), 6) AS rel_err
        |FROM rk LEFT JOIN tau ON rk.event_type = tau.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical cleared-integer identity (HUGEINT)
    "q_jackknife" ->
      """WITH day AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    SUM(CAST(ROUND(value * 100) AS BIGINT)) AS c
        |  FROM events GROUP BY 1, 2),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(c) AS BIGINT) AS st,
        |    SUM(CAST(c AS HUGEINT) * c) AS sc2
        |  FROM day GROUP BY 1 HAVING COUNT(*) > 1)
        |SELECT event_type, n AS n_days,
        |  ROUND(CAST(st AS DOUBLE) / n / 100, 4) AS daily_mean,
        |  ROUND(sqrt(CAST(n * sc2 - CAST(st AS HUGEINT) * st
        |      AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * n * (n - 1))) / 100, 6)
        |    AS jackknife_se
        |FROM ag ORDER BY 1""".stripMargin,

    // identical blocking, per-block 128-cap, classic Levenshtein
    "q_fuzzy_levenshtein" ->
      """WITH p0 AS (
        |  SELECT p_partkey, p_brand, p_name,
        |    string_split(p_name, ' ')[1] AS blk
        |  FROM part),
        |p AS (
        |  SELECT * FROM (
        |    SELECT p_partkey, p_brand, p_name, blk,
        |      row_number() OVER (PARTITION BY p_brand, blk
        |        ORDER BY p_partkey) AS rk
        |    FROM p0)
        |  WHERE rk <= 128)
        |SELECT a.p_partkey AS p1, b.p_partkey AS p2,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev
        |FROM p a JOIN p b
        |  ON a.p_brand = b.p_brand AND a.blk = b.blk
        |  AND a.p_partkey < b.p_partkey
        |ORDER BY lev, p1, p2 LIMIT 20""".stripMargin,

    // identical complete-bin successive differences
    "q_allan_variance" ->
      """WITH day AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, c,
        |    row_number() OVER (PARTITION BY event_type ORDER BY d) - 1
        |      AS t
        |  FROM day),
        |taus AS (SELECT UNNEST([1, 2, 4]) AS tau),
        |bins0 AS (
        |  SELECT idx.event_type, taus.tau, idx.t // taus.tau AS b,
        |    CAST(COUNT(*) AS BIGINT) AS nb, SUM(idx.c) AS sb
        |  FROM idx, taus GROUP BY 1, 2, 3),
        |bins AS (SELECT * FROM bins0 WHERE nb = tau),
        |df AS (
        |  SELECT event_type, tau, sb,
        |    lag(sb) OVER (PARTITION BY event_type, tau ORDER BY b)
        |      AS prev
        |  FROM bins)
        |SELECT event_type, CAST(tau AS BIGINT) AS tau,
        |  CAST(COUNT(*) + 1 AS BIGINT) AS m_bins,
        |  ROUND(SUM((sb - prev) * (sb - prev))
        |    / (2.0 * COUNT(*) * tau * tau), 6) AS avar
        |FROM df WHERE prev IS NOT NULL
        |GROUP BY event_type, tau ORDER BY 1, 2""".stripMargin,

    // identical snapped-LLR first crossing
    "q_sprt_boundary" ->
      """WITH sq AS (
        |  SELECT event_type,
        |    CASE WHEN CAST(ROUND(value * 100) AS BIGINT) > 5000
        |      THEN CAST(ROUND(LN(1.25) * 1e9) AS BIGINT)
        |      ELSE CAST(ROUND(LN(5.0 / 6.0) * 1e9) AS BIGINT) END
        |      AS inc,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY epoch_us(ts), event_id) AS BIGINT) AS rn
        |  FROM events),
        |cm AS (
        |  SELECT event_type, rn,
        |    SUM(inc) OVER (PARTITION BY event_type ORDER BY rn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum,
        |    CAST(ROUND(LN(19.0) * 1e9) AS BIGINT) AS b
        |  FROM sq),
        |crossed AS (
        |  SELECT event_type,
        |    CASE WHEN cum >= b THEN 'accept_h1'
        |      ELSE 'accept_h0' END AS decision,
        |    rn AS n_events, ROUND(cum / 1e9, 6) AS llr,
        |    row_number() OVER (PARTITION BY event_type ORDER BY rn)
        |      AS crn
        |  FROM cm WHERE cum >= b OR cum <= -b),
        |finals AS (
        |  SELECT event_type, 'continue' AS decision, rn AS n_events,
        |    ROUND(cum / 1e9, 6) AS llr,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY rn DESC) AS lrn
        |  FROM cm
        |  WHERE event_type NOT IN (SELECT event_type FROM crossed))
        |SELECT event_type, decision, n_events, llr FROM crossed
        |WHERE crn = 1
        |UNION ALL
        |SELECT event_type, decision, n_events, llr FROM finals
        |WHERE lrn = 1
        |ORDER BY event_type""".stripMargin,

    // identical 2-sweep polish; both grid dims odd → exact middles
    "q_median_polish" ->
      """WITH g AS (
        |  SELECT event_type, CAST(isodow(ts) - 1 AS INT) AS dow,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
        |      / COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |rm1 AS (
        |  SELECT event_type, quantile_cont(x, 0.5) AS m1
        |  FROM g GROUP BY 1),
        |g1 AS (
        |  SELECT g.event_type, g.dow, g.x - rm1.m1 AS r, rm1.m1
        |  FROM g JOIN rm1 ON g.event_type = rm1.event_type),
        |cm1 AS (
        |  SELECT dow, quantile_cont(r, 0.5) AS c1 FROM g1 GROUP BY 1),
        |g2 AS (
        |  SELECT g1.event_type, g1.dow, g1.r - cm1.c1 AS r2,
        |    g1.m1, cm1.c1
        |  FROM g1 JOIN cm1 ON g1.dow = cm1.dow),
        |rm2 AS (
        |  SELECT event_type, quantile_cont(r2, 0.5) AS m2
        |  FROM g2 GROUP BY 1),
        |g3 AS (
        |  SELECT g2.event_type, g2.dow, g2.r2 - rm2.m2 AS r3,
        |    g2.m1, g2.c1, rm2.m2
        |  FROM g2 JOIN rm2 ON g2.event_type = rm2.event_type),
        |cm2 AS (
        |  SELECT dow, quantile_cont(r3, 0.5) AS c2 FROM g3 GROUP BY 1)
        |SELECT g3.event_type, CAST(g3.dow AS BIGINT) AS dow,
        |  ROUND((g3.r3 - cm2.c2) / 100, 6) AS residual,
        |  ROUND((g3.m1 + g3.m2) / 100, 6) AS row_effect,
        |  ROUND((g3.c1 + cm2.c2) / 100, 6) AS col_effect
        |FROM g3 JOIN cm2 ON g3.dow = cm2.dow
        |ORDER BY event_type, dow""".stripMargin
  )
}
