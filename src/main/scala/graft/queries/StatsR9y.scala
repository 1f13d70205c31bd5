package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-9 wave 25 (SURVEY.md §2 B.10b): planning bridges and
  * robust/series diagnostics — the price-volume-mix revenue bridge
  * between order-date halves (base terms exact cents, cross terms
  * snapped once per brand), retention half-life from the log-linear
  * cohort decay (cleared OLS over snapped logs), generalized ESD
  * (three unrolled Grubbs rounds, the binseg precedent), Bowley
  * skewness + Moors kurtosis from ×4/×8-cleared order statistics
  * (pure rationals), an ADF-style unit-root t (cleared OLS of Δy on
  * lagged y), and the seasonal QS portmanteau at lags {7, 14}.
  * Exact to the last division.
  */
object StatsR9y {

  import DailyGrid.{dmCte, wo, wp}

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Price-volume-mix bridge per brand between order-date halves
    // (< 1996 base, the q_laspeyres split): price effect =
    // S1 − S0·Q1/Q0 (snapped once, cents), volume effect =
    // S0·(Q1−Q0)/Q0 (snapped once); their sum reproduces ΔR up to
    // the two roundings (emitted, stated).
    "q_pvm_bridge" -> ((s, d) => {
      val j = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .withColumn("half",
          when(col("l_shipdate") < lit("1996-01-01").cast("date"), 0)
            .otherwise(1))
        .groupBy("p_brand", "half")
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("sc"),
          sum(col("l_quantity").cast("long")).as("qq"))
      val b0 = j.filter(col("half") === 0)
        .select(col("p_brand"), col("sc").as("s0"), col("qq").as("q0"))
      val b1 = j.filter(col("half") === 1)
        .select(col("p_brand"), col("sc").as("s1"), col("qq").as("q1"))
      b0.join(b1, "p_brand")
        .filter(col("q0") > 0 && col("q1") > 0)
        .select(col("p_brand"),
          round((col("s1") - col("s0")) / 100.0, 2).as("delta_rev"),
          round((col("s1").cast("double")
            - col("s0").cast("double") * col("q1") / col("q0")) / 100,
            2).as("price_effect"),
          round(col("s0").cast("double")
            * (col("q1") - col("q0")) / col("q0") / 100, 2)
            .as("volume_effect"))
        .orderBy("p_brand")
    }),

    // Retention half-life: weekly-cohort decay pooled by age (the
    // user-week grid), rate(age) = active(cohort, cohort+age) /
    // cohort size; ln(rate) snapped to 1e6, cleared OLS slope,
    // half-life = −ln2/slope (ages ≥ 1 with rate > 0, stated).
    "q_retention_halflife" -> ((s, d) => {
      val wk = Tables.events(s, d)
        .select(col("user_id"),
          date_trunc("week", to_date(col("ts"))).cast("date").as("w"))
        .distinct()
        .localCheckpoint(eager = true) // cohort + activity legs
      val cohort = wk.groupBy("user_id").agg(min("w").as("c"))
      val act = wk.join(cohort, "user_id")
        .withColumn("age", (datediff(col("w"), col("c")) / 7)
          .cast("long"))
      val sizes = cohort.groupBy("c").agg(count(lit(1)).as("nc"))
      val byAge = act.filter(col("age") >= 1)
        .groupBy("c", "age").agg(count(lit(1)).as("na"))
        .join(sizes, "c")
        .groupBy("age")
        .agg(sum("na").as("active"), sum("nc").as("base"))
        .filter(col("active") > 0 && col("base") > 0)
        .select(col("age"),
          round(log(col("active").cast("double") / col("base")) * 1e6)
            .cast("long").as("lr"))
      byAge.agg(count(lit(1)).as("n"), sum("age").as("sx"),
          sum("lr").as("sy"), sum(col("age") * col("lr")).as("sxy"),
          sum(col("age") * col("age")).as("sxx"))
        .filter(col("n") > 1
          && col("n") * col("sxx") > col("sx") * col("sx"))
        .withColumn("slope", (col("n") * col("sxy")
          - col("sx") * col("sy")).cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx")) / 1e6)
        .filter(col("slope") < 0)
        .select(col("n").as("n_ages"),
          round(col("slope"), 6).as("decay_slope"),
          round(lit(-math.log(2.0)) / col("slope"), 2)
            .as("halflife_weeks"))
    }),

    // Generalized ESD, 3 unrolled rounds (the binseg precedent):
    // each round computes the cleared max |n·y − Σy| deviation,
    // removes the argmax (ties → earliest day, stated), repeats on
    // the remainder; emits the three candidate days and their
    // cleared z² = n·dev²/clr per round.
    "q_esd3" -> ((s, d) => {
      def pick(df: DataFrame): (DataFrame, DataFrame) = {
        val ag = df.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("y").as("sy"),
            sum(col("y") * col("y")).as("syy"))
        val sc = df.join(broadcast(ag), "event_type")
          .withColumn("dev", abs(col("y") * col("n") - col("sy")))
          .withColumn("mx", max("dev").over(wp))
        val picked = sc.filter(col("dev") === col("mx"))
          .withColumn("first_d", min("d").over(wp))
          .filter(col("d") === col("first_d"))
        val out = picked
          .select(col("event_type"), col("d").as("out_d"),
            round(col("dev").cast("double") * col("dev")
              / (col("n").cast("double")
                * (col("n") * col("syy") - col("sy") * col("sy"))), 4)
              .as("z2"))
        (out, df.join(out.select(col("event_type"),
          col("out_d").as("d")), Seq("event_type", "d"), "left_anti"))
      }
      val base = DailyGrid.mean(s, d)
        .select(col("event_type"), col("d"), col("y"))
      val (o1, r1b) = pick(base)
      val r1 = r1b.localCheckpoint(eager = true)
      val (o2, r2b) = pick(r1)
      val r2 = r2b.localCheckpoint(eager = true)
      val (o3, _) = pick(r2)
      o1.select(col("event_type"), col("out_d").as("d1"),
          col("z2").as("z2_1"))
        .join(o2.select(col("event_type"), col("out_d").as("d2"),
          col("z2").as("z2_2")), "event_type")
        .join(o3.select(col("event_type"), col("out_d").as("d3"),
          col("z2").as("z2_3")), "event_type")
        .orderBy("event_type")
    }),

    // Bowley skewness + Moors kurtosis from cleared order
    // statistics: quartiles ×4 (wave-15's interpolation) and octiles
    // ×8 — both statistics are RATIOS of the cleared longs, so the
    // grids cancel; one division each.
    "q_robust_moments" -> ((s, d) => {
      val wr = Window.partitionBy("event_type").orderBy("y", "d")
      val ranked = DailyGrid.mean(s, d)
        .withColumn("rn", row_number().over(wr).cast("long"))
        .withColumn("n", count(lit(1)).over(wp))
      def oct(m8: Int) =
        (sum(when(col("rn") === expr(s"((n - 1) * $m8) div 8") + 1,
          col("y")).otherwise(0L))
          * (lit(8) - max((col("n") - 1) * m8 % 8))
          + sum(when(col("rn") === expr(s"((n - 1) * $m8) div 8") + 2,
            col("y")).otherwise(0L))
            * max((col("n") - 1) * m8 % 8))
      ranked.groupBy("event_type")
        .agg(max("n").as("n_days"),
          oct(2).as("e1"), oct(4).as("e2"), oct(6).as("e3"),
          oct(1).as("o1"), oct(3).as("o3"), oct(5).as("o5"),
          oct(7).as("o7"))
        .filter(col("e3") > col("e1") && col("o5") =!= col("o1")
          && col("o7") =!= col("o3"))
        .select(col("event_type"), col("n_days"),
          round((col("e3") + col("e1") - col("e2") * 2)
            .cast("double") / (col("e3") - col("e1")), 4)
            .as("bowley_skew"),
          round(((col("o7") - col("o5")) + (col("o3") - col("o1")))
            .cast("double") / (col("o5") - col("o1")
              + (col("o7") - col("o3"))), 4).as("moors_kurt"))
        .orderBy("event_type")
    }),

    // ADF-style unit-root t (with constant, lag 0): Δy on y_{t−1},
    // cleared OLS; t = β·√((n−2)·clr_xx) / √(clr_yy·... assembled as
    // β/se from the exact sums in ONE chain. β near 0 ⇒ unit root.
    "q_adf_lite" -> ((s, d) => {
      DailyGrid.mean(s, d)
        .withColumn("py", lag("y", 1).over(wo))
        .filter(col("py").isNotNull)
        .withColumn("dy", col("y") - col("py"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("py").as("sx"),
          sum("dy").as("sy"), sum(col("py") * col("dy")).as("sxy"),
          sum(col("py") * col("py")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"))
        .withColumn("cxy", col("n") * col("sxy") - col("sx") * col("sy"))
        .withColumn("cxx", col("n") * col("sxx") - col("sx") * col("sx"))
        .withColumn("cyy", col("n") * col("syy") - col("sy") * col("sy"))
        .filter(col("n") > 3 && col("cxx") > 0
          && col("cyy").cast("double") * col("cxx")
            > col("cxy").cast("double") * col("cxy"))
        .select(col("event_type"), col("n").as("n_diffs"),
          round(col("cxy").cast("double") / col("cxx"), 6).as("beta"),
          round((col("cxy").cast("double") / col("cxx"))
            / sqrt((col("cyy").cast("double")
              - col("cxy").cast("double") * col("cxy") / col("cxx"))
              / (col("n") - 2) * col("n")
              / col("cxx").cast("double")), 4).as("adf_t"))
        .orderBy("event_type")
    }),

    // Seasonal QS portmanteau at lags {7, 14}: ρ from the
    // q_act_integrated global-variance convention snapped to 1e9;
    // QS = n(n+2)·Σ ρ_k²/(n−k) in one chain.
    "q_qs_seasonal" -> ((s, d) => {
      import s.implicits._
      val base = DailyGrid.mean(s, d)
        .select(col("event_type"), col("i"), col("y"))
      val mom = base.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("y").as("sy"),
          sum(col("y") * col("y")).as("syy"))
      val lags = Seq(7L, 14L).toDF("k")
      val rho = base.crossJoin(broadcast(lags))
        .join(base.select(col("event_type").as("et2"),
          col("i").as("j"), col("y").as("y2")),
          col("et2") === col("event_type")
            && col("j") === col("i") + col("k"))
        .groupBy("event_type", "k")
        .agg(count(lit(1)).as("m"), sum(col("y") * col("y2")).as("sxy"),
          sum("y").as("sa"), sum("y2").as("sb"))
        .join(mom, "event_type")
        .filter(col("n") * col("syy") > col("sy") * col("sy"))
        .select(col("event_type"), col("k"), col("n"),
          round((col("m") * col("sxy") - col("sa") * col("sb"))
            .cast("double") * col("n")
            / (col("m").cast("double")
              * (col("n") * col("syy") - col("sy") * col("sy")))
            * 1e9).cast("long").as("rho_u"))
      rho.groupBy("event_type")
        .agg(max("n").as("n_days"),
          sum((col("rho_u").cast("double") * col("rho_u") / 1e18)
            / (col("n") - col("k"))).as("srsq"))
        .select(col("event_type"), col("n_days"),
          round(col("n_days") * (col("n_days") + 2) * col("srsq"), 4)
            .as("qs_stat"))
        .orderBy("event_type")
    })
  )

  val oracle: Map[String, String] = Map(
    // identical half split and snapped bridge terms
    "q_pvm_bridge" ->
      """WITH j AS (
        |  SELECT p.p_brand,
        |    CASE WHEN l.l_shipdate < DATE '1996-01-01' THEN 0 ELSE 1
        |      END AS half,
        |    CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS sc,
        |    CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qq
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2),
        |b AS (
        |  SELECT a.p_brand, a.sc AS s0, a.qq AS q0, c.sc AS s1,
        |    c.qq AS q1
        |  FROM j a JOIN j c ON a.p_brand = c.p_brand
        |    AND a.half = 0 AND c.half = 1
        |  WHERE a.qq > 0 AND c.qq > 0)
        |SELECT p_brand,
        |  ROUND((s1 - s0) / 100.0, 2) AS delta_rev,
        |  ROUND((CAST(s1 AS DOUBLE)
        |    - CAST(s0 AS DOUBLE) * q1 / q0) / 100, 2) AS price_effect,
        |  ROUND(CAST(s0 AS DOUBLE) * (q1 - q0) / q0 / 100, 2)
        |    AS volume_effect
        |FROM b ORDER BY p_brand""".stripMargin,

    // identical cohort ages and cleared OLS
    "q_retention_halflife" ->
      """WITH wk AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS w
        |  FROM events),
        |ch AS (SELECT user_id, MIN(w) AS c FROM wk GROUP BY 1),
        |sz AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS nc
        |       FROM ch GROUP BY 1),
        |ac AS (
        |  SELECT ch.c,
        |    CAST(datediff('day', ch.c, wk.w) / 7 AS BIGINT) AS age,
        |    CAST(COUNT(*) AS BIGINT) AS na
        |  FROM wk JOIN ch ON wk.user_id = ch.user_id
        |  WHERE datediff('day', ch.c, wk.w) / 7 >= 1
        |  GROUP BY 1, 2),
        |ba AS (
        |  SELECT ac.age,
        |    CAST(ROUND(ln(CAST(SUM(ac.na) AS DOUBLE) / SUM(sz.nc))
        |      * 1e6) AS BIGINT) AS lr
        |  FROM ac JOIN sz ON ac.c = sz.c
        |  GROUP BY 1
        |  HAVING SUM(ac.na) > 0 AND SUM(sz.nc) > 0),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(age) AS BIGINT) AS sx,
        |    CAST(SUM(lr) AS BIGINT) AS sy,
        |    CAST(SUM(age * lr) AS BIGINT) AS sxy,
        |    CAST(SUM(age * age) AS BIGINT) AS sxx
        |  FROM ba),
        |sl AS (
        |  SELECT n,
        |    CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (n * sxx - sx * sx) / 1e6 AS slope
        |  FROM ag WHERE n > 1 AND n * sxx > sx * sx)
        |SELECT n AS n_ages, ROUND(slope, 6) AS decay_slope,
        |  ROUND(-ln(2.0) / slope, 2) AS halflife_weeks
        |FROM sl WHERE slope < 0""".stripMargin,

    // identical three unrolled rounds
    "q_esd3" -> {
      def roundCte(src: String, tag: String): String =
        s"""ag$tag AS (
           |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(SUM(y) AS BIGINT) AS sy,
           |    CAST(SUM(y * y) AS BIGINT) AS syy
           |  FROM $src GROUP BY 1),
           |sc$tag AS (
           |  SELECT s.event_type, s.d, s.y, a.n, a.sy, a.syy,
           |    ABS(s.y * a.n - a.sy) AS dev,
           |    MAX(ABS(s.y * a.n - a.sy))
           |      OVER (PARTITION BY s.event_type) AS mx
           |  FROM $src s JOIN ag$tag a ON s.event_type = a.event_type),
           |o$tag AS (
           |  SELECT event_type, MIN(d) AS out_d FROM sc$tag
           |  WHERE dev = mx GROUP BY 1),
           |z$tag AS (
           |  SELECT sc$tag.event_type, o$tag.out_d,
           |    ROUND(CAST(sc$tag.dev AS DOUBLE) * sc$tag.dev
           |      / (CAST(sc$tag.n AS DOUBLE)
           |        * (sc$tag.n * sc$tag.syy
           |          - sc$tag.sy * sc$tag.sy)), 4) AS z2
           |  FROM sc$tag JOIN o$tag
           |    ON sc$tag.event_type = o$tag.event_type
           |    AND sc$tag.d = o$tag.out_d)""".stripMargin
      s"""WITH $dmCte,
        |b1 AS (SELECT event_type, d, y FROM dm),
        |${roundCte("b1", "1")},
        |b2 AS (
        |  SELECT b1.* FROM b1 LEFT JOIN o1
        |    ON b1.event_type = o1.event_type AND b1.d = o1.out_d
        |  WHERE o1.out_d IS NULL),
        |${roundCte("b2", "2")},
        |b3 AS (
        |  SELECT b2.* FROM b2 LEFT JOIN o2
        |    ON b2.event_type = o2.event_type AND b2.d = o2.out_d
        |  WHERE o2.out_d IS NULL),
        |${roundCte("b3", "3")}
        |SELECT z1.event_type, z1.out_d AS d1, z1.z2 AS z2_1,
        |  z2.out_d AS d2, z2.z2 AS z2_2,
        |  z3.out_d AS d3, z3.z2 AS z2_3
        |FROM z1
        |JOIN z2 ON z1.event_type = z2.event_type
        |JOIN z3 ON z1.event_type = z3.event_type
        |ORDER BY z1.event_type""".stripMargin
    },

    // identical cleared octile rationals
    "q_robust_moments" -> {
      def oct(m8: Int): String =
        s"""SUM(CASE WHEN rn = ((n - 1) * $m8) // 8 + 1 THEN y
           |        ELSE 0 END) * (8 - MAX(((n - 1) * $m8) % 8))
           |      + SUM(CASE WHEN rn = ((n - 1) * $m8) // 8 + 2 THEN y
           |        ELSE 0 END) * MAX(((n - 1) * $m8) % 8)""".stripMargin
      s"""WITH $dmCte,
        |rk AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY y, d) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n
        |  FROM dm),
        |ag AS (
        |  SELECT event_type, MAX(n) AS n_days,
        |    ${oct(2)} AS e1,
        |    ${oct(4)} AS e2,
        |    ${oct(6)} AS e3,
        |    ${oct(1)} AS o1,
        |    ${oct(3)} AS o3,
        |    ${oct(5)} AS o5,
        |    ${oct(7)} AS o7
        |  FROM rk GROUP BY 1)
        |SELECT event_type, n_days,
        |  ROUND(CAST(e3 + e1 - e2 * 2 AS DOUBLE) / (e3 - e1), 4)
        |    AS bowley_skew,
        |  ROUND(CAST((o7 - o5) + (o3 - o1) AS DOUBLE)
        |    / (o5 - o1 + (o7 - o3)), 4) AS moors_kurt
        |FROM ag WHERE e3 > e1 AND o5 <> o1 AND o7 <> o3
        |ORDER BY event_type""".stripMargin
    },

    // identical cleared OLS t
    "q_adf_lite" ->
      s"""WITH $dmCte,
        |lg AS (
        |  SELECT event_type, y - py AS dy, py
        |  FROM (SELECT event_type, y,
        |          lag(y) OVER (PARTITION BY event_type ORDER BY d)
        |            AS py
        |        FROM dm)
        |  WHERE py IS NOT NULL),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(py) AS BIGINT) AS sx,
        |    CAST(SUM(dy) AS BIGINT) AS sy,
        |    CAST(SUM(py * dy) AS BIGINT) AS sxy,
        |    CAST(SUM(py * py) AS BIGINT) AS sxx,
        |    CAST(SUM(dy * dy) AS BIGINT) AS syy
        |  FROM lg GROUP BY 1),
        |cl AS (
        |  SELECT event_type, n,
        |    n * sxy - sx * sy AS cxy,
        |    n * sxx - sx * sx AS cxx,
        |    n * syy - sy * sy AS cyy
        |  FROM ag
        |  WHERE n > 3)
        |SELECT event_type, n AS n_diffs,
        |  ROUND(CAST(cxy AS DOUBLE) / cxx, 6) AS beta,
        |  ROUND((CAST(cxy AS DOUBLE) / cxx)
        |    / sqrt((CAST(cyy AS DOUBLE)
        |      - CAST(cxy AS DOUBLE) * cxy / cxx)
        |      / (n - 2) * n / CAST(cxx AS DOUBLE)), 4) AS adf_t
        |FROM cl
        |WHERE cxx > 0 AND CAST(cyy AS DOUBLE) * cxx
        |  > CAST(cxy AS DOUBLE) * cxy
        |ORDER BY event_type""".stripMargin,

    // identical snapped seasonal correlations
    "q_qs_seasonal" ->
      s"""WITH $dmCte,
        |ix AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY d) AS BIGINT) AS i
        |  FROM dm),
        |mom AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM ix GROUP BY 1),
        |lg AS (SELECT unnest([7, 14]) AS k),
        |rho AS (
        |  SELECT a.event_type, lg.k, ANY_VALUE(mom.n) AS n,
        |    CAST(ROUND(CAST(COUNT(*) * SUM(a.y * b.y)
        |        - SUM(a.y) * SUM(b.y) AS DOUBLE) * ANY_VALUE(mom.n)
        |      / (CAST(COUNT(*) AS DOUBLE)
        |        * (ANY_VALUE(mom.n) * ANY_VALUE(mom.syy)
        |          - ANY_VALUE(mom.sy) * ANY_VALUE(mom.sy)))
        |      * 1e9) AS BIGINT) AS rho_u
        |  FROM ix a
        |  CROSS JOIN lg
        |  JOIN ix b ON b.event_type = a.event_type
        |    AND b.i = a.i + lg.k
        |  JOIN mom ON mom.event_type = a.event_type
        |  WHERE mom.n * mom.syy > mom.sy * mom.sy
        |  GROUP BY a.event_type, lg.k)
        |SELECT event_type, MAX(n) AS n_days,
        |  ROUND(MAX(n) * (MAX(n) + 2)
        |    * SUM((CAST(rho_u AS DOUBLE) * rho_u / 1e18)
        |      / (n - k)), 4) AS qs_stat
        |FROM rho GROUP BY 1 ORDER BY event_type""".stripMargin
  )
}
