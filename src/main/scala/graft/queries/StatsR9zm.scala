package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-9 wave 40 (SURVEY.md §2 B.10b): robust estimation and
  * cluster validity — a Hyndman-Fan quantile-type comparison (types
  * 1/2/4/7 at the quartiles, ×4-cleared interpolation weights), the
  * Hampel rolling-median/MAD outlier filter (integer 3·1.4826·MAD
  * test cleared by 10000), a one-step Tukey biweight location, and
  * the Calinski-Harabasz / Davies-Bouldin / Dunn(centroid) validity
  * indices over the embedding labels.
  *
  * Embedding posture: per-element x² snaps to 1e9 and per-(label,dim)
  * means to 1e6 BEFORE any cross-row arithmetic (the q_embed_pca
  * round-before-solve doctrine), so within/between sums of squares
  * are exact longs; the 10-label index assembly is one double chain.
  */
object StatsR9zm {

  import DailyGrid.{wo, wp}

  /** Per-(label, dim) snapped centroid + counts, per-label snapped
    * Σx², and the global snapped centroid — the shared seed of the
    * three validity indices. All BOUNDED (10 labels × 64 dims).
    */
  private def labelStats(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val el = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("x", col("x").cast("double"))
    val mu = el.groupBy("label", "dim")
      .agg(round(avg("x") * 1e6).cast("long").as("mu_u"),
        (count(lit(1))).as("nd"))
    val e2 = el.groupBy("label")
      .agg(sum(round(col("x") * col("x") * 1e9).cast("long")).as("e2_u"),
        (count(lit(1)) / 64).cast("long").as("n_l"))
    (mu.localCheckpoint(eager = true), e2.localCheckpoint(eager = true))
  }

  private val labelCte: String =
    """el AS (
      |  SELECT label, CAST(pos - 1 AS INT) AS dim, CAST(v AS DOUBLE)
      |      AS x
      |  FROM (SELECT label, unnest(embedding) AS v,
      |          generate_subscripts(embedding, 1) AS pos
      |        FROM embeddings)),
      |mu AS (
      |  SELECT label, dim,
      |    CAST(ROUND(AVG(x) * 1e6) AS BIGINT) AS mu_u,
      |    CAST(COUNT(*) AS BIGINT) AS nd
      |  FROM el GROUP BY 1, 2),
      |e2 AS (
      |  SELECT label,
      |    SUM(CAST(ROUND(x * x * 1e9) AS BIGINT)) AS e2_u,
      |    CAST(COUNT(*) // 64 AS BIGINT) AS n_l
      |  FROM el GROUP BY 1),
      |wl AS (
      |  SELECT e2.label, e2.n_l,
      |    CAST(e2.e2_u AS DOUBLE) / 1e9
      |      - e2.n_l * (SELECT SUM(CAST(m.mu_u AS DOUBLE) * m.mu_u)
      |        FROM mu m WHERE m.label = e2.label) / 1e12 AS w_l
      |  FROM e2)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Hyndman-Fan quantile types 1/2/4/7 at p ∈ {¼, ½, ¾} on
    // per-customer revenue: each estimate is a ×4-cleared convex
    // combination of two order statistics — exact integer selection.
    "q_quantile_types" -> ((s, d) => {
      import s.implicits._
      // customer-grain global rank → range-partitioned (r10 VERDICT
      // task 4); n = max rank off the cheap checkpointed rank table
      val ranked = graft.operators.PrefixSum.rank(
        StatsR9ze.custRev(s, d), Seq(col("x").asc, col("c").asc), "rk")
      val rk = ranked
        .crossJoin(broadcast(ranked.agg(max("rk").as("n"))))
        .localCheckpoint(eager = true)
      val ps = Seq(1L, 2L, 3L).toDF("k") // p = k/4
      // type-indexed ×4-cleared (lo index, hi index, weight r in
      // quarters): t1 idx=ceil(nk/4); t2 averages at integer nk/4;
      // t4 h=nk/4; t7 h=((n-1)k+4... h4 = (n-1)*k + 4
      val sel = rk.crossJoin(broadcast(ps))
        .withColumn("nk", col("n") * col("k"))
        .withColumn("t1_i", expr("(nk + 3) div 4"))
        .withColumn("t2_lo", expr(
          "CASE WHEN nk % 4 = 0 THEN nk div 4 ELSE (nk + 3) div 4 END"))
        .withColumn("t2_hi", expr(
          "CASE WHEN nk % 4 = 0 THEN nk div 4 + 1 " +
            "ELSE (nk + 3) div 4 END"))
        .withColumn("t4_lo", expr("greatest(nk div 4, 1)"))
        .withColumn("t4_r", expr(
          "CASE WHEN nk div 4 >= 1 THEN nk % 4 ELSE 0 END"))
        .withColumn("h4", (col("n") - 1) * col("k") + 4)
        .withColumn("t7_lo", expr("h4 div 4"))
        .withColumn("t7_r", expr("h4 % 4"))
      sel.groupBy("k")
        .agg(max("n").as("n"),
          sum(when(col("rk") === col("t1_i"), col("x")).otherwise(0L))
            .as("t1x"),
          sum(when(col("rk") === col("t2_lo"), col("x")).otherwise(0L))
            .as("t2lo"),
          sum(when(col("rk") === col("t2_hi"), col("x")).otherwise(0L))
            .as("t2hi"),
          sum(when(col("rk") === col("t4_lo"), col("x")).otherwise(0L))
            .as("t4lo"),
          sum(when(col("rk") === col("t4_lo") + 1, col("x"))
            .otherwise(0L)).as("t4hi"),
          max("t4_r").as("t4r"),
          sum(when(col("rk") === col("t7_lo"), col("x")).otherwise(0L))
            .as("t7lo"),
          sum(when(col("rk") === col("t7_lo") + 1, col("x"))
            .otherwise(0L)).as("t7hi"),
          max("t7_r").as("t7r"))
        .select((col("k").cast("double") / 4).as("p"),
          round(col("t1x") / 100.0, 2).as("type1"),
          round(when(col("t2hi") > 0,
            (col("t2lo") + col("t2hi")) / 200.0)
            .otherwise(col("t2lo") / 100.0), 2).as("type2"),
          round((col("t4lo") * (lit(4L) - col("t4r"))
            + col("t4hi") * col("t4r")) / 400.0, 2).as("type4"),
          round((col("t7lo") * (lit(4L) - col("t7r"))
            + col("t7hi") * col("t7r")) / 400.0, 2).as("type7"))
        .orderBy("p")
    }),

    // Hampel filter on the per-type daily grid: full 7-day centered
    // windows, med and MAD by array sort (integers), outlier iff
    // 10000·|x−med| > 3·14826·MAD (1.4826 = 14826/10000, stated).
    "q_hampel" -> ((s, d) => {
      val wArr = wo.rowsBetween(-3, 3)
      DailyGrid.mean(s, d)
        .withColumn("arr", collect_list("y").over(wArr))
        .filter(size(col("arr")) === 7)
        .withColumn("med", element_at(array_sort(col("arr")), 4))
        .withColumn("mad", element_at(array_sort(
          transform(col("arr"), v => abs(v - col("med")))), 4))
        .withColumn("out",
          lit(10000L) * abs(col("y") - col("med"))
            > lit(3L) * 14826L * col("mad"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("out"), 1L).otherwise(0L)).as("n_outliers"))
        .orderBy("event_type")
    }),

    // One-step Tukey biweight location per type: u = (2y−med2)/
    // (6·mad2) on the doubled grids, w = (1−u²)² snapped to 1e9,
    // T = med2/2 + Σw·(2y−med2)/(2Σw), back in value units.
    "q_tukey_biweight" -> ((s, d) => {
      val wg = Window.partitionBy("event_type").orderBy("y", "d")
      val base = DailyGrid.mean(s, d)
        .withColumn("rg", row_number().over(wg).cast("long"))
        .withColumn("ng", count(lit(1)).over(wp))
      val med2 = base.groupBy("event_type")
        .agg(sum(when(col("rg") === expr("(ng + 1) div 2"), col("y"))
          .otherwise(0L)
          + when(col("rg") === expr("ng div 2 + 1"), col("y"))
            .otherwise(0L)).as("med2"))
      val dev = base.join(med2, "event_type")
        .withColumn("ad", abs(lit(2L) * col("y") - col("med2")))
      val wd = Window.partitionBy("event_type").orderBy("ad", "d")
      val mad2 = dev
        .withColumn("rd", row_number().over(wd).cast("long"))
        .groupBy("event_type")
        .agg(sum(when(col("rd") === expr("(ng + 1) div 2"), col("ad"))
          .otherwise(0L)
          + when(col("rd") === expr("ng div 2 + 1"), col("ad"))
            .otherwise(0L)).as("mad2"))
      dev.join(mad2, "event_type")
        .filter(col("mad2") > 0)
        .withColumn("u", (lit(2L) * col("y") - col("med2"))
          .cast("double") / (lit(6L) * col("mad2")))
        .withColumn("w_u",
          when(abs(col("u")) < 1,
            round(pow(lit(1.0) - col("u") * col("u"), 2) * 1e9)
              .cast("long")).otherwise(0L))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), max("med2").as("med2"),
          sum("w_u").as("sw"),
          sum(col("w_u") * (lit(2L) * col("y") - col("med2")))
            .as("swd"))
        .filter(col("sw") > 0)
        .select(col("event_type"), col("n_days"),
          round((col("med2") / 2.0
            + col("swd").cast("double") / (lit(2.0) * col("sw")))
            / 1000, 6).as("biweight_location"))
        .orderBy("event_type")
    }),

    // Calinski-Harabasz over embedding labels: W from snapped
    // element squares minus per-label snapped centroid norms, B from
    // snapped centroid-vs-global distances; CH = (B/(k−1))/(W/(n−k)).
    "q_calinski_harabasz" -> ((s, d) => {
      val (mu, e2) = labelStats(s, d)
      val g = mu.groupBy("dim")
        .agg((sum(col("mu_u") * col("nd")) / sum("nd")).as("g_d"))
      val wTot = e2.join(
          mu.groupBy("label")
            .agg(sum(col("mu_u") * col("mu_u")).as("cl2")), "label")
        .select((col("e2_u") / 1e9
          - col("n_l") * col("cl2") / 1e12).as("w_l"), col("n_l"))
        .agg(sum("w_l").as("w"), sum("n_l").as("n"),
          count(lit(1)).as("k"))
      val bTot = mu.join(g, "dim")
        .select(col("label"),
          (col("nd") * (col("mu_u") - col("g_d"))
            * (col("mu_u") - col("g_d")) / 1e12).as("bterm"))
        .agg(sum("bterm").as("b"))
      wTot.crossJoin(bTot)
        .filter(col("w") > 0 && col("k") > 1)
        .select(col("n").as("n_vectors"), col("k").as("k_labels"),
          round(col("b"), 4).as("between_ss"),
          round(col("w"), 4).as("within_ss"),
          round((col("b") / (col("k") - 1))
            / (col("w") / (col("n") - col("k"))), 6).as("ch_index"))
    }),

    // Davies-Bouldin (centroid-scatter variant, stated): S_l =
    // √(W_l/n_l), M_lm from snapped centroids; DB = mean_l max_m
    // (S_l+S_m)/M_lm over the 10-label grid.
    "q_davies_bouldin" -> ((s, d) => {
      val (mu, e2) = labelStats(s, d)
      val sL = e2.join(
          mu.groupBy("label")
            .agg(sum(col("mu_u") * col("mu_u")).as("cl2")), "label")
        .select(col("label"),
          sqrt((col("e2_u") / 1e9 - col("n_l") * col("cl2") / 1e12)
            / col("n_l")).as("s_l"))
        .localCheckpoint(eager = true)
      val m = mu.select(col("label").as("l1"), col("dim"),
          col("mu_u").as("u1"))
        .join(mu.select(col("label").as("l2"), col("dim"),
          col("mu_u").as("u2")), "dim")
        .filter(col("l1") =!= col("l2"))
        .groupBy("l1", "l2")
        .agg(sqrt(sum((col("u1") - col("u2")) * (col("u1") - col("u2")))
          / 1e12).as("m_lm"))
      val r = m
        .join(sL.select(col("label").as("l1"), col("s_l").as("s1")), "l1")
        .join(sL.select(col("label").as("l2"), col("s_l").as("s2")), "l2")
        .groupBy("l1")
        .agg(max((col("s1") + col("s2")) / col("m_lm")).as("r_l"))
      r.agg(count(lit(1)).as("k_labels"),
          round(avg("r_l"), 6).as("db_index"))
    }),

    // Dunn (centroid variant, stated): min inter-centroid distance
    // over max centroid scatter S_l.
    "q_dunn_centroid" -> ((s, d) => {
      val (mu, e2) = labelStats(s, d)
      val sL = e2.join(
          mu.groupBy("label")
            .agg(sum(col("mu_u") * col("mu_u")).as("cl2")), "label")
        .select(col("label"),
          sqrt((col("e2_u") / 1e9 - col("n_l") * col("cl2") / 1e12)
            / col("n_l")).as("s_l"))
      val m = mu.select(col("label").as("l1"), col("dim"),
          col("mu_u").as("u1"))
        .join(mu.select(col("label").as("l2"), col("dim"),
          col("mu_u").as("u2")), "dim")
        .filter(col("l1") < col("l2"))
        .groupBy("l1", "l2")
        .agg(sqrt(sum((col("u1") - col("u2")) * (col("u1") - col("u2")))
          / 1e12).as("m_lm"))
      m.agg(min("m_lm").as("min_sep"))
        .crossJoin(sL.agg(max("s_l").as("max_scatter"),
          count(lit(1)).as("k_labels")))
        .filter(col("max_scatter") > 0)
        .select(col("k_labels"),
          round(col("min_sep"), 6).as("min_separation"),
          round(col("max_scatter"), 6).as("max_scatter"),
          round(col("min_sep") / col("max_scatter"), 6).as("dunn_index"))
    })
  )

  val oracle: Map[String, String] = Map(
    // identical ×4-cleared order-statistic selection
    "q_quantile_types" ->
      (s"WITH ${StatsR9ze.crCte}," +
      """
        |rk AS (
        |  SELECT x,
        |    CAST(row_number() OVER (ORDER BY x, c) AS BIGINT) AS rk,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n
        |  FROM cr),
        |ps AS (SELECT UNNEST([1, 2, 3]) AS k),
        |sel AS (
        |  SELECT rk.*, ps.k, rk.n * ps.k AS nk,
        |    (rk.n - 1) * ps.k + 4 AS h4
        |  FROM rk, ps),
        |ag AS (
        |  SELECT k, MAX(n) AS n,
        |    SUM(CASE WHEN rk = (nk + 3) // 4 THEN x ELSE 0 END) AS t1x,
        |    SUM(CASE WHEN rk = (CASE WHEN nk % 4 = 0 THEN nk // 4
        |      ELSE (nk + 3) // 4 END) THEN x ELSE 0 END) AS t2lo,
        |    SUM(CASE WHEN nk % 4 = 0 AND rk = nk // 4 + 1
        |      THEN x ELSE 0 END) AS t2hi,
        |    SUM(CASE WHEN rk = GREATEST(nk // 4, 1) THEN x ELSE 0 END)
        |      AS t4lo,
        |    SUM(CASE WHEN rk = GREATEST(nk // 4, 1) + 1
        |      THEN x ELSE 0 END) AS t4hi,
        |    MAX(CASE WHEN nk // 4 >= 1 THEN nk % 4 ELSE 0 END) AS t4r,
        |    SUM(CASE WHEN rk = h4 // 4 THEN x ELSE 0 END) AS t7lo,
        |    SUM(CASE WHEN rk = h4 // 4 + 1 THEN x ELSE 0 END) AS t7hi,
        |    MAX(h4 % 4) AS t7r
        |  FROM sel GROUP BY 1)
        |SELECT CAST(k AS DOUBLE) / 4 AS p,
        |  ROUND(t1x / 100.0, 2) AS type1,
        |  ROUND(CASE WHEN t2hi > 0 THEN (t2lo + t2hi) / 200.0
        |    ELSE t2lo / 100.0 END, 2) AS type2,
        |  ROUND((t4lo * (4 - t4r) + t4hi * t4r) / 400.0, 2) AS type4,
        |  ROUND((t7lo * (4 - t7r) + t7hi * t7r) / 400.0, 2) AS type7
        |FROM ag ORDER BY p""".stripMargin),

    // identical integer med/MAD windows
    "q_hampel" ->
      (s"WITH ${DailyGrid.dmCte}," +
      """
        |w AS (
        |  SELECT event_type, y,
        |    list_sort(list(y) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS arr
        |  FROM dm),
        |f AS (
        |  SELECT event_type, y, arr[4] AS med,
        |    list_sort(list_transform(arr, v -> ABS(v - arr[4])))[4]
        |      AS mad
        |  FROM w WHERE len(arr) = 7)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_windows,
        |  CAST(SUM(CASE WHEN 10000 * ABS(y - med) > 3 * 14826 * mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM f GROUP BY 1 ORDER BY event_type""".stripMargin),

    // identical doubled-grid one-step biweight
    "q_tukey_biweight" ->
      (s"WITH ${DailyGrid.dmCte}," +
      """
        |rg AS (
        |  SELECT event_type, d, y,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY y, d) AS BIGINT) AS rg,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS ng
        |  FROM dm),
        |md AS (
        |  SELECT event_type,
        |    SUM(CASE WHEN rg = (ng + 1) // 2 THEN y ELSE 0 END
        |      + CASE WHEN rg = ng // 2 + 1 THEN y ELSE 0 END) AS med2
        |  FROM rg GROUP BY 1),
        |dev AS (
        |  SELECT rg.event_type, rg.d, rg.y, rg.ng, md.med2,
        |    ABS(2 * rg.y - md.med2) AS ad
        |  FROM rg JOIN md ON rg.event_type = md.event_type),
        |rd AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY ad, d) AS BIGINT) AS rd
        |  FROM dev),
        |m2 AS (
        |  SELECT event_type,
        |    SUM(CASE WHEN rd = (ng + 1) // 2 THEN ad ELSE 0 END
        |      + CASE WHEN rd = ng // 2 + 1 THEN ad ELSE 0 END) AS mad2
        |  FROM rd GROUP BY 1),
        |wts AS (
        |  SELECT dev.event_type, dev.med2,
        |    2 * dev.y - dev.med2 AS dv,
        |    CASE WHEN ABS(CAST(2 * dev.y - dev.med2 AS DOUBLE)
        |        / (6 * m2.mad2)) < 1
        |      THEN CAST(ROUND(POW(1.0
        |        - (CAST(2 * dev.y - dev.med2 AS DOUBLE) / (6 * m2.mad2))
        |        * (CAST(2 * dev.y - dev.med2 AS DOUBLE)
        |          / (6 * m2.mad2)), 2) * 1e9) AS BIGINT)
        |      ELSE 0 END AS w_u
        |  FROM dev JOIN m2 ON dev.event_type = m2.event_type
        |  WHERE m2.mad2 > 0),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    MAX(med2) AS med2, SUM(w_u) AS sw, SUM(w_u * dv) AS swd
        |  FROM wts GROUP BY 1)
        |SELECT event_type, n_days,
        |  ROUND((med2 / 2.0 + CAST(swd AS DOUBLE) / (2.0 * sw)) / 1000,
        |    6) AS biweight_location
        |FROM ag WHERE sw > 0 ORDER BY event_type""".stripMargin),

    // identical snapped within/between assembly
    "q_calinski_harabasz" ->
      (s"WITH $labelCte," +
      """
        |g AS (
        |  SELECT dim, SUM(mu_u * nd) * 1.0 / SUM(nd) AS g_d
        |  FROM mu GROUP BY 1),
        |w AS (
        |  SELECT SUM(w_l) AS w, SUM(n_l) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS k
        |  FROM wl),
        |b AS (
        |  SELECT SUM(mu.nd * (mu.mu_u - g.g_d) * (mu.mu_u - g.g_d)
        |    / 1e12) AS b
        |  FROM mu JOIN g ON mu.dim = g.dim)
        |SELECT CAST(w.n AS BIGINT) AS n_vectors, w.k AS k_labels,
        |  ROUND(b.b, 4) AS between_ss, ROUND(w.w, 4) AS within_ss,
        |  ROUND((b.b / (w.k - 1)) / (w.w / (w.n - w.k)), 6)
        |    AS ch_index
        |FROM w, b WHERE w.w > 0 AND w.k > 1""".stripMargin),

    // identical centroid-scatter DB assembly
    "q_davies_bouldin" ->
      (s"WITH $labelCte," +
      """
        |sl AS (SELECT label, sqrt(w_l / n_l) AS s_l FROM wl),
        |m AS (
        |  SELECT a.label AS l1, b.label AS l2,
        |    sqrt(SUM((a.mu_u - b.mu_u) * (a.mu_u - b.mu_u)) / 1e12)
        |      AS m_lm
        |  FROM mu a JOIN mu b ON a.dim = b.dim AND a.label <> b.label
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT m.l1, MAX((s1.s_l + s2.s_l) / m.m_lm) AS r_l
        |  FROM m
        |  JOIN sl s1 ON m.l1 = s1.label
        |  JOIN sl s2 ON m.l2 = s2.label
        |  GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS k_labels,
        |  ROUND(AVG(r_l), 6) AS db_index
        |FROM r""".stripMargin),

    // identical min-separation / max-scatter ratio
    "q_dunn_centroid" ->
      (s"WITH $labelCte," +
      """
        |sl AS (SELECT label, sqrt(w_l / n_l) AS s_l FROM wl),
        |m AS (
        |  SELECT sqrt(SUM((a.mu_u - b.mu_u) * (a.mu_u - b.mu_u))
        |    / 1e12) AS m_lm
        |  FROM mu a JOIN mu b ON a.dim = b.dim AND a.label < b.label
        |  GROUP BY a.label, b.label),
        |ag AS (
        |  SELECT (SELECT MIN(m_lm) FROM m) AS min_sep,
        |    (SELECT MAX(s_l) FROM sl) AS max_scatter,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM sl) AS k_labels)
        |SELECT k_labels, ROUND(min_sep, 6) AS min_separation,
        |  ROUND(max_scatter, 6) AS max_scatter,
        |  ROUND(min_sep / max_scatter, 6) AS dunn_index
        |FROM ag WHERE max_scatter > 0""".stripMargin)
  )
}
