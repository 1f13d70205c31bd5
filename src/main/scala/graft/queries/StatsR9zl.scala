package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-9 wave 39 (SURVEY.md §2 B.10b): recommender audits on the
  * wave-28 temporal holdout (catalog coverage of the popularity
  * recommender, cold-start rates), a 2×2 factorial interaction
  * (weekend × daypart) on event values, a mediation decomposition
  * day-index → clicks → purchase revenue via two closed-form OLS
  * fits, price stickiness from the part×month unit-value grid, and
  * pairwise brand-assortment Jaccard between market segments.
  *
  * The brand dimension is BOUNDED (25 values), so the user×brand
  * candidate grid is a broadcast cross join, never corpus-quadratic;
  * everything else is rollup + cleared-moment chains.
  */
object StatsR9zl {

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Catalog coverage of the popularity recommender: each train user
    // gets the top-3 UNBOUGHT brands by (global popularity DESC,
    // brand) (stated); coverage = distinct recommended brands over
    // the catalog; the recommendation-count Gini-free skew proxy
    // (max/min share) alongside.
    "q_rec_coverage" -> ((s, d) => {
      val (train, _) = StatsR9zb.trainTest(s, d)
      val tr = train.localCheckpoint(eager = true)
      val pop = tr.groupBy("brand").agg(sum("cnt").as("pop"))
      val users = tr.select("c").distinct()
      val brands = Tables.part(s, d).select(col("p_brand").as("brand"))
        .distinct().localCheckpoint(eager = true)
      val cand = users.crossJoin(broadcast(brands))
        .join(tr.select("c", "brand"), Seq("c", "brand"), "left_anti")
        .join(broadcast(pop), Seq("brand"), "left")
        .withColumn("pop", coalesce(col("pop"), lit(0L)))
      val w = Window.partitionBy("c")
        .orderBy(col("pop").desc, col("brand").asc)
      val recs = cand.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
      val cov = recs.agg(countDistinct("brand").as("n_rec_brands"),
        countDistinct("c").as("n_users"))
      val tot = brands.agg(count(lit(1)).as("n_brands"))
      cov.crossJoin(broadcast(tot))
        .select(col("n_users"), col("n_rec_brands"), col("n_brands"),
          round(col("n_rec_brands").cast("double") / col("n_brands"), 6)
            .as("coverage"))
    }),

    // Cold-start audit of the same holdout: test pairs whose user /
    // brand never appears in train.
    "q_cold_start" -> ((s, d) => {
      // session memos — already materialized; the per-call checkpoint
      // copies are gone with them (r13 opt)
      val (tr, te) = StatsR9zb.trainTest(s, d)
      val coldU = te.join(tr.select("c").distinct(), Seq("c"),
        "left_anti").agg(count(lit(1)).as("cold_user_pairs"))
      val coldB = te.join(tr.select("brand").distinct(), Seq("brand"),
        "left_anti").agg(count(lit(1)).as("cold_brand_pairs"))
      val tot = te.agg(count(lit(1)).as("n_test_pairs"))
      tot.crossJoin(coldU).crossJoin(coldB)
        .select(col("n_test_pairs"), col("cold_user_pairs"),
          col("cold_brand_pairs"),
          round(col("cold_user_pairs").cast("double")
            / col("n_test_pairs"), 6).as("cold_user_rate"),
          round(col("cold_brand_pairs").cast("double")
            / col("n_test_pairs"), 6).as("cold_brand_rate"))
    }),

    // 2×2 factorial interaction weekend × morning (hour < 12,
    // stated) on centi event values: interaction =
    // (μ11−μ10)−(μ01−μ00) from exact cell sums, t vs the pooled
    // per-cell variance combination √(Σ s²_c/n_c).
    "q_factorial_interaction" -> ((s, d) => {
      val cells = Tables.events(s, d)
        .select(when(dayofweek(col("ts")).isin(1, 7), 1L).otherwise(0L)
            .as("we"),
          when(hour(col("ts")) < 12, 1L).otherwise(0L).as("am"),
          round(col("value") * 100).cast("long").as("v"))
        .groupBy("we", "am")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"),
          sum(col("v") * col("v")).as("svv"))
        .withColumn("mu", col("sv").cast("double") / col("n"))
        .withColumn("s2", (col("n") * col("svv")
          - col("sv") * col("sv")).cast("double")
          / (col("n").cast("double") * (col("n") - 1)))
      cells.agg(
          sum("n").as("n_events"),
          sum(when(col("we") === 1 && col("am") === 1, col("mu"))).as("m11"),
          sum(when(col("we") === 1 && col("am") === 0, col("mu"))).as("m10"),
          sum(when(col("we") === 0 && col("am") === 1, col("mu"))).as("m01"),
          sum(when(col("we") === 0 && col("am") === 0, col("mu"))).as("m00"),
          sum(col("s2") / col("n")).as("se2"))
        .filter(col("se2") > 0)
        .select(col("n_events"),
          round((col("m11") - col("m10") - col("m01") + col("m00"))
            / 100, 6).as("interaction"),
          round((col("m11") - col("m10") - col("m01") + col("m00"))
            / sqrt(col("se2")), 6).as("interaction_t"))
    }),

    // Mediation day-index → daily clicks (M) → purchase milli-revenue
    // (Y): a = Sxm/Sxx; two-regressor fit Y~X+M by Cramer
    // (det = Sxx·Smm − Sxm²), b = (Sxx·Smy − Sxm·Sxy)/det, c' =
    // (Smm·Sxy − Sxm·Smy)/det; indirect = a·b, total = Sxy/Sxx.
    "q_mediation_lite" -> ((s, d) => {
      val day = DailyGrid.mean(s, d)
        .groupBy("d")
        .agg(sum(when(col("event_type") === "click", col("cnt")).otherwise(0L))
            .as("m"),
          sum(when(col("event_type") === "purchase", col("s_m"))
            .otherwise(0L)).as("y"))
        // bounded grain: one row per day
        .withColumn("x",
          row_number().over(Window.orderBy("d")).cast("long"))
      day.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("m").as("sm"),
          sum("y").as("sy"), sum(col("x") * col("m")).as("sxm"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("m") * col("y")).as("smy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("m") * col("m")).as("smm"))
        .withColumn("cxx", col("n") * col("sxx") - col("sx") * col("sx"))
        .withColumn("cmm", col("n") * col("smm") - col("sm") * col("sm"))
        .withColumn("cxm", col("n") * col("sxm") - col("sx") * col("sm"))
        .withColumn("cxy", col("n") * col("sxy") - col("sx") * col("sy"))
        .withColumn("cmy", col("n") * col("smy") - col("sm") * col("sy"))
        .withColumn("det", col("cxx").cast("double") * col("cmm")
          - col("cxm").cast("double") * col("cxm"))
        .filter(col("cxx") > 0 && abs(col("det")) > 0)
        .withColumn("a", col("cxm").cast("double") / col("cxx"))
        .withColumn("b", (col("cxx").cast("double") * col("cmy")
          - col("cxm").cast("double") * col("cxy")) / col("det"))
        .select(col("n").as("n_days"),
          round(col("a"), 6).as("a_x_to_m"),
          round(col("b") / 1000, 6).as("b_m_to_y"),
          round(col("a") * col("b") / 1000, 6).as("indirect"),
          round((col("cmm").cast("double") * col("cxy")
            - col("cxm").cast("double") * col("cmy")) / col("det")
            / 1000, 6).as("direct"),
          round(col("cxy").cast("double") / col("cxx") / 1000, 6)
            .as("total"))
    }),

    // Price stickiness on the part×month unit-value grid: per part,
    // consecutive OBSERVATIONS (month order, gaps allowed — stated);
    // changes = Σ 1{u ≠ lag u}; stickiness = 1 − changes/pairs,
    // mean spell = pairs/changes.
    "q_price_stickiness" -> ((s, d) => {
      val pm = Tables.lineitem(s, d)
        .groupBy(col("l_partkey").as("pk"),
          date_trunc("month", col("l_shipdate")).cast("date").as("m"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("sc"),
          sum(col("l_quantity").cast("long")).as("qq"))
        .filter(col("qq") > 0)
        .select(col("pk"), col("m"),
          round(col("sc").cast("double") / col("qq")).cast("long")
            .as("u"))
      val w = Window.partitionBy("pk").orderBy("m")
      val lagged = pm.withColumn("pu", lag("u", 1).over(w))
        .filter(col("pu").isNotNull)
      lagged.agg(countDistinct("pk").as("n_parts"),
          count(lit(1)).as("n_pairs"),
          sum(when(col("u") =!= col("pu"), 1L).otherwise(0L))
            .as("n_changes"))
        .filter(col("n_changes") > 0)
        .select(col("n_parts"), col("n_pairs"), col("n_changes"),
          round(lit(1.0) - col("n_changes").cast("double")
            / col("n_pairs"), 6).as("stickiness"),
          round(col("n_pairs").cast("double") / col("n_changes"), 6)
            .as("mean_spell_months"))
    }),

    // Pairwise brand-assortment Jaccard between the 5 market
    // segments: distinct (segment, brand) sets, all 10 pairs ordered.
    "q_segment_brand_overlap" -> ((s, d) => {
      val sb = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)
          .select("c_custkey", "c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("c_mktsegment").as("seg"), col("p_brand").as("brand"))
        .distinct()
        .localCheckpoint(eager = true)
      val sizes = sb.groupBy("seg").agg(count(lit(1)).as("nb"))
      val inter = sb.select(col("seg").as("s1"), col("brand"))
        .join(sb.select(col("seg").as("s2"), col("brand")), "brand")
        .filter(col("s1") < col("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("common"))
      inter
        .join(sizes.select(col("seg").as("s1"), col("nb").as("n1")), "s1")
        .join(sizes.select(col("seg").as("s2"), col("nb").as("n2")), "s2")
        .select(col("s1"), col("s2"), col("common"),
          round(col("common").cast("double")
            / (col("n1") + col("n2") - col("common")), 6).as("jaccard"))
        .orderBy("s1", "s2")
    })
  )

  val oracle: Map[String, String] = Map(
    // identical bounded user×brand candidate grid
    "q_rec_coverage" ->
      """WITH li AS (
        |  SELECT o.o_custkey AS c, p.p_brand AS brand
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE o.o_orderdate < TIMESTAMP '1998-01-01'),
        |tr AS (SELECT c, brand, COUNT(*) AS cnt FROM li GROUP BY 1, 2),
        |pop AS (SELECT brand, SUM(cnt) AS pop FROM tr GROUP BY 1),
        |users AS (SELECT DISTINCT c FROM tr),
        |brands AS (SELECT DISTINCT p_brand AS brand FROM part),
        |cand AS (
        |  SELECT u.c, b.brand, COALESCE(pop.pop, 0) AS pop
        |  FROM users u CROSS JOIN brands b
        |  LEFT JOIN pop ON b.brand = pop.brand
        |  WHERE NOT EXISTS (SELECT 1 FROM tr
        |    WHERE tr.c = u.c AND tr.brand = b.brand)),
        |recs AS (
        |  SELECT c, brand FROM (
        |    SELECT c, brand,
        |      row_number() OVER (PARTITION BY c
        |        ORDER BY pop DESC, brand ASC) AS rk
        |    FROM cand) WHERE rk <= 3)
        |SELECT
        |  (SELECT CAST(COUNT(DISTINCT c) AS BIGINT) FROM recs)
        |    AS n_users,
        |  (SELECT CAST(COUNT(DISTINCT brand) AS BIGINT) FROM recs)
        |    AS n_rec_brands,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM brands) AS n_brands,
        |  ROUND((SELECT CAST(COUNT(DISTINCT brand) AS DOUBLE)
        |      FROM recs)
        |    / (SELECT COUNT(*) FROM brands), 6) AS coverage""".stripMargin,

    // identical anti-join cold counts
    "q_cold_start" ->
      """WITH li AS (
        |  SELECT o.o_custkey AS c, p.p_brand AS brand, o.o_orderdate
        |    AS od
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey),
        |tr AS (SELECT DISTINCT c, brand FROM li
        |       WHERE od < TIMESTAMP '1998-01-01'),
        |te AS (SELECT DISTINCT c, brand FROM li
        |       WHERE od >= TIMESTAMP '1998-01-01'),
        |cu AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS cold_user_pairs
        |  FROM te WHERE NOT EXISTS
        |    (SELECT 1 FROM tr WHERE tr.c = te.c)),
        |cb AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS cold_brand_pairs
        |  FROM te WHERE NOT EXISTS
        |    (SELECT 1 FROM tr WHERE tr.brand = te.brand)),
        |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_test_pairs FROM te)
        |SELECT n_test_pairs, cold_user_pairs, cold_brand_pairs,
        |  ROUND(CAST(cold_user_pairs AS DOUBLE) / n_test_pairs, 6)
        |    AS cold_user_rate,
        |  ROUND(CAST(cold_brand_pairs AS DOUBLE) / n_test_pairs, 6)
        |    AS cold_brand_rate
        |FROM tt, cu, cb""".stripMargin,

    // identical cell-moment interaction chain
    "q_factorial_interaction" ->
      """WITH cells AS (
        |  SELECT CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END
        |      AS we,
        |    CASE WHEN EXTRACT(hour FROM ts) < 12 THEN 1 ELSE 0 END
        |      AS am,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sv,
        |    SUM(CAST(ROUND(value * 100) AS BIGINT)
        |      * CAST(ROUND(value * 100) AS BIGINT)) AS svv
        |  FROM events GROUP BY 1, 2),
        |st AS (
        |  SELECT we, am, n, CAST(sv AS DOUBLE) / n AS mu,
        |    CAST(n * svv - sv * sv AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (n - 1)) AS s2
        |  FROM cells),
        |ag AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS n_events,
        |    SUM(CASE WHEN we = 1 AND am = 1 THEN mu END) AS m11,
        |    SUM(CASE WHEN we = 1 AND am = 0 THEN mu END) AS m10,
        |    SUM(CASE WHEN we = 0 AND am = 1 THEN mu END) AS m01,
        |    SUM(CASE WHEN we = 0 AND am = 0 THEN mu END) AS m00,
        |    SUM(s2 / n) AS se2
        |  FROM st)
        |SELECT n_events,
        |  ROUND((m11 - m10 - m01 + m00) / 100, 6) AS interaction,
        |  ROUND((m11 - m10 - m01 + m00) / sqrt(se2), 6)
        |    AS interaction_t
        |FROM ag WHERE se2 > 0""".stripMargin,

    // identical Cramer 2-regressor mediation chain
    "q_mediation_lite" ->
      """WITH day AS (
        |  SELECT CAST(ts AS DATE) AS dd,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS m,
        |    SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(FLOOR(value * 1000) AS BIGINT) ELSE 0 END)
        |      AS y
        |  FROM events GROUP BY 1),
        |ix AS (
        |  SELECT m, y,
        |    CAST(row_number() OVER (ORDER BY dd) AS BIGINT) AS x
        |  FROM day),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
        |    SUM(m) AS sm, SUM(y) AS sy, SUM(x * m) AS sxm,
        |    SUM(x * y) AS sxy, SUM(m * y) AS smy, SUM(x * x) AS sxx,
        |    SUM(m * m) AS smm
        |  FROM ix),
        |cl AS (
        |  SELECT n,
        |    n * sxx - sx * sx AS cxx, n * smm - sm * sm AS cmm,
        |    n * sxm - sx * sm AS cxm, n * sxy - sx * sy AS cxy,
        |    n * smy - sm * sy AS cmy
        |  FROM ag),
        |dt AS (
        |  SELECT n, cxx, cxy,
        |    CAST(cxx AS DOUBLE) * cmm - CAST(cxm AS DOUBLE) * cxm
        |      AS det,
        |    CAST(cxm AS DOUBLE) / cxx AS a,
        |    (CAST(cxx AS DOUBLE) * cmy - CAST(cxm AS DOUBLE) * cxy)
        |      AS bnum,
        |    (CAST(cmm AS DOUBLE) * cxy - CAST(cxm AS DOUBLE) * cmy)
        |      AS cnum
        |  FROM cl WHERE cxx > 0)
        |SELECT n AS n_days,
        |  ROUND(a, 6) AS a_x_to_m,
        |  ROUND(bnum / det / 1000, 6) AS b_m_to_y,
        |  ROUND(a * (bnum / det) / 1000, 6) AS indirect,
        |  ROUND(cnum / det / 1000, 6) AS direct,
        |  ROUND(CAST(cxy AS DOUBLE) / cxx / 1000, 6) AS total
        |FROM dt WHERE ABS(det) > 0""".stripMargin,

    // identical lag-change counting
    "q_price_stickiness" ->
      """WITH pm AS (
        |  SELECT l_partkey AS pk,
        |    CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE)
        |      AS m,
        |    CAST(ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
        |      * 1.0 / SUM(CAST(l_quantity AS BIGINT))) AS BIGINT) AS u
        |  FROM lineitem GROUP BY 1, 2
        |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 0),
        |lg AS (
        |  SELECT pk, u,
        |    lag(u) OVER (PARTITION BY pk ORDER BY m) AS pu
        |  FROM pm),
        |ag AS (
        |  SELECT CAST(COUNT(DISTINCT pk) AS BIGINT) AS n_parts,
        |    CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CASE WHEN u <> pu THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_changes
        |  FROM lg WHERE pu IS NOT NULL)
        |SELECT n_parts, n_pairs, n_changes,
        |  ROUND(1.0 - CAST(n_changes AS DOUBLE) / n_pairs, 6)
        |    AS stickiness,
        |  ROUND(CAST(n_pairs AS DOUBLE) / n_changes, 6)
        |    AS mean_spell_months
        |FROM ag WHERE n_changes > 0""".stripMargin,

    // identical distinct-set Jaccards
    "q_segment_brand_overlap" ->
      """WITH sb AS (
        |  SELECT DISTINCT cu.c_mktsegment AS seg, p.p_brand AS brand
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer cu ON o.o_custkey = cu.c_custkey
        |  JOIN part p ON l.l_partkey = p.p_partkey),
        |sz AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS nb
        |       FROM sb GROUP BY 1),
        |iv AS (
        |  SELECT a.seg AS s1, b.seg AS s2,
        |    CAST(COUNT(*) AS BIGINT) AS common
        |  FROM sb a JOIN sb b ON a.brand = b.brand AND a.seg < b.seg
        |  GROUP BY 1, 2)
        |SELECT iv.s1, iv.s2, iv.common,
        |  ROUND(CAST(iv.common AS DOUBLE)
        |    / (z1.nb + z2.nb - iv.common), 6) AS jaccard
        |FROM iv
        |JOIN sz z1 ON iv.s1 = z1.seg
        |JOIN sz z2 ON iv.s2 = z2.seg
        |ORDER BY iv.s1, iv.s2""".stripMargin
  )
}
