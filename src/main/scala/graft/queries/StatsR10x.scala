package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Round-10 wave 25 (SURVEY.md §2 B.10b): closed-form 2-feature PCA,
  * partial Kendall tau on the daily triple, Hjorth signal
  * descriptors, the Theil-Sen slope CI, and a deterministic
  * (hash-seeded) permutation test.
  *
  * House discipline: covariances/concordances from exact long sums;
  * the PCA eigenvalues avoid trig entirely; permutation assignments
  * are md5-derived (the q_feature_hash portable idiom) so both
  * engines draw the IDENTICAL 20 permutations.
  */
object StatsR10x {

  import DailyGrid.{wo, wp}

  /** Phi^-1(0.975) interpolated into oracles. */
  private val z975 = 1.959963984540054

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Closed-form PCA of the (milli value, props.k) pair: 2×2
    // covariance eigenvalues λ = (vx+vy)/2 ± √(((vx−vy)/2)² + c²)
    // (no trig, no iteration — the 2-feature exact case of the
    // Gram-matrix q_embed_pca OMIT), principal slope (λ1 − vx)/c,
    // explained-variance share.
    "q_pca2" -> ((s, d) => {
      // TRY_CAST on BOTH engines (r10 ADVICE): a non-numeric props.k
      // degrades identically to a dropped row — never an ANSI cast
      // error on one side only
      Tables.events(s, d)
        .select(floor(col("value") * 1e3).cast("long").as("x"),
          expr("TRY_CAST(get_json_object(props, '$.k') AS LONG)").as("y"))
        .filter(col("y").isNotNull)
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .withColumn("vx", (col("n").cast("double") * col("sxx")
          - col("sx").cast("double") * col("sx"))
          / col("n") / (col("n") - 1))
        .withColumn("vy", (col("n").cast("double") * col("syy")
          - col("sy").cast("double") * col("sy"))
          / col("n") / (col("n") - 1))
        .withColumn("cc", (col("n").cast("double") * col("sxy")
          - col("sx").cast("double") * col("sy"))
          / col("n") / (col("n") - 1))
        .withColumn("disc", sqrt((col("vx") - col("vy"))
          * (col("vx") - col("vy")) / 4 + col("cc") * col("cc")))
        .withColumn("l1", (col("vx") + col("vy")) / 2 + col("disc"))
        .withColumn("l2", (col("vx") + col("vy")) / 2 - col("disc"))
        .select(col("n"),
          round(col("l1") / 1e6, 6).as("lambda1"),
          round(col("l2") / 1e6, 6).as("lambda2"),
          round(col("l1") / (col("l1") + col("l2")), 6)
            .as("explained_share"),
          round((col("l1") - col("vx")) / col("cc"), 6)
            .as("principal_slope"))
    }),

    // Partial Kendall tau-a on the daily triple (value milli mean x,
    // click share y, error share z — all 1e6-snapped): pairwise tau
    // from exact concordance sums over the C(n,2) day grid, then
    // τ_xy·z = (τxy − τxz·τyz)/√((1−τxz²)(1−τyz²)) — dependence with
    // the confounder partialled out.
    "q_partial_tau" -> ((s, d) => {
      val daily = DailyGrid.mean(s, d)
        .groupBy("d")
        .agg(sum("s_m").as("sv"), sum("cnt").as("cnt"),
          sum(when(col("event_type") === "click", col("cnt")).otherwise(0L))
            .as("ck"),
          sum(when(col("event_type") === "error", col("cnt")).otherwise(0L))
            .as("er"))
        .select(col("d"), expr("sv div cnt").as("x"),
          expr("CAST(ck * 1000000 div cnt AS BIGINT)").as("y"),
          expr("CAST(er * 1000000 div cnt AS BIGINT)").as("z"))
        .localCheckpoint(eager = true) // day-pair legs
      val g = daily.select(col("d").as("d1"), col("x").as("x1"),
          col("y").as("y1"), col("z").as("z1"))
        .join(daily.select(col("d").as("d2"), col("x").as("x2"),
          col("y").as("y2"), col("z").as("z2")), col("d1") < col("d2"))
      def sgn(a: org.apache.spark.sql.Column) = signum(a.cast("double"))
      g.agg(count(lit(1)).as("np"),
          sum(sgn(col("x2") - col("x1"))
            * sgn(col("y2") - col("y1"))).as("cxy"),
          sum(sgn(col("x2") - col("x1"))
            * sgn(col("z2") - col("z1"))).as("cxz"),
          sum(sgn(col("y2") - col("y1"))
            * sgn(col("z2") - col("z1"))).as("cyz"))
        .withColumn("txy", col("cxy") / col("np"))
        .withColumn("txz", col("cxz") / col("np"))
        .withColumn("tyz", col("cyz") / col("np"))
        .select(col("np").as("n_pairs"),
          round(col("txy"), 6).as("tau_xy"),
          round(col("txz"), 6).as("tau_xz"),
          round(col("tyz"), 6).as("tau_yz"),
          round((col("txy") - col("txz") * col("tyz"))
            / sqrt((lit(1.0) - col("txz") * col("txz"))
              * (lit(1.0) - col("tyz") * col("tyz"))), 6)
            .as("partial_tau"))
    }),

    // Hjorth parameters per type on the daily milli series: activity
    // = var(y), mobility = √(var(Δy)/var(y)), complexity =
    // mobility(Δy)/mobility(y) — the three-number EEG-style signal
    // summary, all from exact long first/second differences.
    "q_hjorth" -> ((s, d) => {
      def popvar(v: org.apache.spark.sql.Column,
          n: org.apache.spark.sql.Column,
          sm: org.apache.spark.sql.Column) =
        (n.cast("double") * v - sm.cast("double") * sm) / n / n
      DailyGrid.mean(s, d)
        .withColumn("d1", col("y") - lag("y", 1).over(wo))
        .withColumn("d2", col("d1") - lag("d1", 1).over(wo))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n0"), sum("y").as("s0"),
          sum(col("y") * col("y")).as("q0"),
          sum(when(col("d1").isNotNull, 1L).otherwise(0L)).as("n1"),
          sum(when(col("d1").isNotNull, col("d1")).otherwise(0L))
            .as("s1"),
          sum(when(col("d1").isNotNull, col("d1") * col("d1"))
            .otherwise(0L)).as("q1"),
          sum(when(col("d2").isNotNull, 1L).otherwise(0L)).as("n2"),
          sum(when(col("d2").isNotNull, col("d2")).otherwise(0L))
            .as("s2"),
          sum(when(col("d2").isNotNull, col("d2") * col("d2"))
            .otherwise(0L)).as("q2"))
        .filter(col("n2") >= 2)
        .withColumn("v0", popvar(col("q0"), col("n0"), col("s0")))
        .withColumn("v1", popvar(col("q1"), col("n1"), col("s1")))
        .withColumn("v2", popvar(col("q2"), col("n2"), col("s2")))
        .withColumn("mob", sqrt(col("v1") / col("v0")))
        .select(col("event_type"), col("n0").as("n_days"),
          round(col("v0") / 1e6, 4).as("activity"),
          round(col("mob"), 6).as("mobility"),
          round(sqrt(col("v2") / col("v1")) / col("mob"), 6)
            .as("complexity"))
        .orderBy("event_type")
    }),

    // Theil-Sen slope with the classical rank CI per type: median of
    // the C(n,2) day-pair slopes, bounds at ranks (N ∓ z√var)/2 with
    // var = n(n−1)(2n+5)/18 (no-ties form, stated) — the robust
    // trend plus the interval q_theil_sen alone doesn't give.
    "q_theilsen_ci" -> ((s, d) => {
      val pts = DailyGrid.mean(s, d)
      val slopes = pts.select(col("event_type"), col("i").as("i1"),
          col("y").as("y1"))
        .join(pts.select(col("event_type"), col("i").as("i2"),
          col("y").as("y2")), "event_type")
        .filter(col("i1") < col("i2"))
        .select(col("event_type"), ((col("y2") - col("y1"))
          .cast("double") / (col("i2") - col("i1"))).as("sl"))
      val ws = Window.partitionBy("event_type").orderBy("sl")
      slopes
        .withColumn("r", row_number().over(ws).cast("long"))
        .withColumn("nn", count(lit(1)).over(wp))
        .withColumn("n", (lit(1.0)
          + sqrt(lit(1.0) + lit(8.0) * col("nn"))) / 2) // n from C(n,2)
        .withColumn("cz", lit(z975) * sqrt(col("n") * (col("n") - 1)
          * (lit(2.0) * col("n") + 5) / 18.0))
        .withColumn("lo_i", greatest(lit(1L),
          floor((col("nn") - col("cz")) / 2).cast("long")))
        .withColumn("hi_i", least(col("nn"),
          ceil((col("nn") + col("cz")) / 2 + 1).cast("long")))
        .groupBy("event_type")
        .agg(max("nn").as("n_slopes"),
          round(avg(when(expr("(nn % 2 = 1 AND r = (nn + 1) div 2)" +
            " OR (nn % 2 = 0 AND (r = nn div 2 OR r = nn div 2 + 1))"),
            col("sl"))) / 1e3, 6).as("slope"),
          round(max(when(col("r") === col("lo_i"), col("sl"))) / 1e3, 6)
            .as("ci_low"),
          round(max(when(col("r") === col("hi_i"), col("sl"))) / 1e3, 6)
            .as("ci_high"))
        .orderBy("event_type")
    }),

    // Deterministic permutation test of the parity A/B split: 20
    // md5-seeded reassignments (both engines derive the IDENTICAL
    // permutations from the portable hash), p = (1 + #{|diff_k| ≥
    // |observed|})/(K + 1) — randomization inference with replayable
    // seeds.
    "q_permutation_test" -> ((s, d) => {
      // ONE pass, zero row amplification: the 21 group assignments
      // become 84 conditional aggregates in a single partial agg
      // (the cross-join form shuffled 21x the corpus)
      def grp(k: Int): org.apache.spark.sql.Column =
        if (k == 0) pmod(col("user_id"), lit(2)).cast("int")
        else conv(substring(md5(
          concat_ws("_", col("user_id"), lit(k.toLong))), 1, 4), 16, 10)
          .cast("int") % 2
      val aggs = (0 to 20).flatMap { k =>
        Seq(sum(when(grp(k) === 0, col("vm")).otherwise(0L))
            .as(s"s0_$k"),
          sum(when(grp(k) === 0, 1L).otherwise(0L)).as(s"n0_$k"),
          sum(when(grp(k) === 1, col("vm")).otherwise(0L))
            .as(s"s1_$k"),
          sum(when(grp(k) === 1, 1L).otherwise(0L)).as(s"n1_$k"))
      }
      def diffC(k: Int): org.apache.spark.sql.Column =
        abs(col(s"s0_$k").cast("double") / col(s"n0_$k")
          - col(s"s1_$k").cast("double") / col(s"n1_$k"))
      val g = Tables.events(s, d)
        .select(col("user_id"),
          floor(col("value") * 1e3).cast("long").as("vm"))
        .agg(aggs.head, aggs.tail: _*)
      val obs = diffC(0)
      val perms = (1 to 20).map(diffC)
      g.select(lit(20L).as("n_perms"),
        round(obs / 1e3, 4).as("observed_diff"),
        round(perms.reduce(greatest(_, _)) / 1e3, 4)
          .as("max_perm_diff"),
        round((perms.map(p => when(p >= obs, 1L).otherwise(0L))
          .reduce(_ + _) + 1) / lit(21.0), 6).as("p_value"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_pca2" ->
      """WITH f AS (
        |  SELECT x, y FROM (
        |    SELECT CAST(FLOOR(value * 1000) AS BIGINT) AS x,
        |      TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        |        AS y
        |    FROM events) t
        |  WHERE y IS NOT NULL),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy
        |  FROM f),
        |v AS (
        |  SELECT n,
        |    (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |      / n / (n - 1) AS vx,
        |    (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
        |      / n / (n - 1) AS vy,
        |    (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |      / n / (n - 1) AS cc
        |  FROM g),
        |e AS (
        |  SELECT n, vx, cc,
        |    (vx + vy) / 2 + sqrt((vx - vy) * (vx - vy) / 4 + cc * cc)
        |      AS l1,
        |    (vx + vy) / 2 - sqrt((vx - vy) * (vx - vy) / 4 + cc * cc)
        |      AS l2
        |  FROM v)
        |SELECT n,
        |  ROUND(l1 / 1e6, 6) AS lambda1,
        |  ROUND(l2 / 1e6, 6) AS lambda2,
        |  ROUND(l1 / (l1 + l2), 6) AS explained_share,
        |  ROUND((l1 - vx) / cc, 6) AS principal_slope
        |FROM e""".stripMargin,

    "q_partial_tau" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) // COUNT(*)
        |      AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
        |      END) * 1000000 // COUNT(*) AS BIGINT) AS y,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0
        |      END) * 1000000 // COUNT(*) AS BIGINT) AS z
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS np,
        |    SUM(SIGN(CAST(b.x - a.x AS DOUBLE))
        |      * SIGN(CAST(b.y - a.y AS DOUBLE))) AS cxy,
        |    SUM(SIGN(CAST(b.x - a.x AS DOUBLE))
        |      * SIGN(CAST(b.z - a.z AS DOUBLE))) AS cxz,
        |    SUM(SIGN(CAST(b.y - a.y AS DOUBLE))
        |      * SIGN(CAST(b.z - a.z AS DOUBLE))) AS cyz
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |t AS (
        |  SELECT np, cxy / np AS txy, cxz / np AS txz, cyz / np AS tyz
        |  FROM g)
        |SELECT np AS n_pairs,
        |  ROUND(txy, 6) AS tau_xy,
        |  ROUND(txz, 6) AS tau_xz,
        |  ROUND(tyz, 6) AS tau_yz,
        |  ROUND((txy - txz * tyz)
        |    / sqrt((1.0 - txz * txz) * (1.0 - tyz * tyz)), 6)
        |    AS partial_tau
        |FROM t""".stripMargin,

    "q_hjorth" ->
      s"""WITH ${DailyGrid.dmCte},
        |dd AS (
        |  SELECT event_type, y,
        |    y - lag(y) OVER w AS d1,
        |    y - 2 * lag(y) OVER w + lag(y, 2) OVER w AS d2
        |  FROM dm WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |g AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n0,
        |    CAST(SUM(y) AS BIGINT) AS s0,
        |    CAST(SUM(y * y) AS BIGINT) AS q0,
        |    CAST(SUM(CASE WHEN d1 IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN d1 IS NOT NULL THEN d1 ELSE 0 END)
        |      AS BIGINT) AS s1,
        |    CAST(SUM(CASE WHEN d1 IS NOT NULL THEN d1 * d1 ELSE 0 END)
        |      AS BIGINT) AS q1,
        |    CAST(SUM(CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN d2 IS NOT NULL THEN d2 ELSE 0 END)
        |      AS BIGINT) AS s2,
        |    CAST(SUM(CASE WHEN d2 IS NOT NULL THEN d2 * d2 ELSE 0 END)
        |      AS BIGINT) AS q2
        |  FROM dd GROUP BY 1 HAVING SUM(CASE WHEN d2 IS NOT NULL
        |    THEN 1 ELSE 0 END) >= 2),
        |v AS (
        |  SELECT event_type, n0,
        |    (CAST(n0 AS DOUBLE) * q0 - CAST(s0 AS DOUBLE) * s0)
        |      / n0 / n0 AS v0,
        |    (CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)
        |      / n1 / n1 AS v1,
        |    (CAST(n2 AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2)
        |      / n2 / n2 AS v2
        |  FROM g)
        |SELECT event_type, n0 AS n_days,
        |  ROUND(v0 / 1e6, 4) AS activity,
        |  ROUND(sqrt(v1 / v0), 6) AS mobility,
        |  ROUND(sqrt(v2 / v1) / sqrt(v1 / v0), 6) AS complexity
        |FROM v ORDER BY event_type""".stripMargin,

    "q_theilsen_ci" ->
      s"""WITH ${DailyGrid.dmCte},
        |pts AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
        |      AS BIGINT) AS i
        |  FROM dm),
        |slopes AS (
        |  SELECT a.event_type,
        |    CAST(b.y - a.y AS DOUBLE) / (b.i - a.i) AS sl
        |  FROM pts a JOIN pts b
        |    ON a.event_type = b.event_type AND a.i < b.i),
        |r AS (
        |  SELECT event_type, sl,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY sl) AS BIGINT) AS r,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nn
        |  FROM slopes),
        |r2 AS (
        |  SELECT event_type, sl, r, nn,
        |    (1.0 + sqrt(1.0 + 8.0 * nn)) / 2 AS n
        |  FROM r),
        |r3 AS (
        |  SELECT event_type, sl, r, nn,
        |    $z975 * sqrt(n * (n - 1) * (2 * n + 5) / 18.0) AS cz
        |  FROM r2)
        |SELECT event_type, MAX(nn) AS n_slopes,
        |  ROUND(AVG(CASE WHEN (nn % 2 = 1 AND r = (nn + 1) // 2)
        |    OR (nn % 2 = 0 AND (r = nn // 2 OR r = nn // 2 + 1))
        |    THEN sl END) / 1e3, 6) AS slope,
        |  ROUND(MAX(CASE WHEN r = GREATEST(1,
        |    CAST(FLOOR((nn - cz) / 2) AS BIGINT)) THEN sl END)
        |    / 1e3, 6) AS ci_low,
        |  ROUND(MAX(CASE WHEN r = LEAST(nn,
        |    CAST(CEIL((nn + cz) / 2 + 1) AS BIGINT)) THEN sl END)
        |    / 1e3, 6) AS ci_high
        |FROM r3 GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q_permutation_test" ->
      """WITH ks AS (SELECT CAST(unnest(generate_series(0, 20))
        |    AS BIGINT) AS k),
        |ev AS (
        |  SELECT k,
        |    CASE WHEN k = 0 THEN CAST(user_id % 2 AS INT)
        |      ELSE CAST(CAST('0x' || substring(md5(
        |        CAST(user_id AS VARCHAR) || '_'
        |        || CAST(k AS VARCHAR)), 1, 4) AS INT) % 2 AS INT)
        |    END AS grp,
        |    CAST(FLOOR(value * 1000) AS BIGINT) AS vm
        |  FROM events CROSS JOIN ks),
        |diffs AS (
        |  SELECT k,
        |    abs(CAST(SUM(CASE WHEN grp = 0 THEN vm ELSE 0 END)
        |        AS DOUBLE)
        |      / SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END)
        |      - CAST(SUM(CASE WHEN grp = 1 THEN vm ELSE 0 END)
        |        AS DOUBLE)
        |      / SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)) AS diff
        |  FROM ev GROUP BY 1),
        |obs AS (SELECT diff AS obs FROM diffs WHERE k = 0),
        |p AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_perms,
        |    CAST(SUM(CASE WHEN diff >= obs THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_ge,
        |    MAX(obs) AS obs_d, MAX(diff) AS max_d
        |  FROM diffs, obs WHERE k > 0)
        |SELECT n_perms,
        |  ROUND(obs_d / 1e3, 4) AS observed_diff,
        |  ROUND(max_d / 1e3, 4) AS max_perm_diff,
        |  ROUND((n_ge + 1) / CAST(n_perms + 1 AS DOUBLE), 6)
        |    AS p_value
        |FROM p""".stripMargin
  )
}
