package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Round-9 wave 38 (SURVEY.md §2 B.10b): pricing and quality-control
  * analytics — cross-supplier unit-price dispersion per part, the
  * X̄/R Shewhart control chart on 5-day subgroups with EXACT
  * cross-multiplied out-of-control tests (A2(5) = 577/1000, stated),
  * the G-test of type × day-of-week independence (per-cell terms
  * snapped), a month-chained Laspeyres price index over common
  * parts, the Gastwirth location estimator, and the Lorenz asymmetry
  * coefficient over per-customer revenue.
  *
  * Everything rides bounded rollups (part×supplier, type×week,
  * type×dow, part×month, customer) with long/decimal sums and one
  * double chain per key.
  */
object StatsR9zk {

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Unit-price dispersion per part across suppliers: per
    // (part, supplier) the cent-snapped average unit value
    // round(Σext·100/Σqty); parts with ≥3 suppliers (stated), CV =
    // population sd / mean from the snapped longs; top 20 by (CV,
    // partkey).
    "q_price_dispersion" -> ((s, d) => {
      val uv = Tables.lineitem(s, d)
        .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("sc"),
          sum(col("l_quantity").cast("long")).as("qq"))
        .filter(col("qq") > 0)
        .select(col("pk"),
          round(col("sc").cast("double") / col("qq")).cast("long")
            .as("u"))
      uv.groupBy("pk")
        .agg(count(lit(1)).as("ns"), sum("u").as("su"),
          sum(col("u").cast("decimal(38,0)") * col("u")).as("suu"))
        .filter(col("ns") >= 3 && col("su") > 0)
        .withColumn("mean", col("su").cast("double") / col("ns"))
        .withColumn("sd", sqrt(col("suu").cast("double") / col("ns")
          - col("mean") * col("mean")))
        .select(col("pk").as("partkey"), col("ns").as("n_suppliers"),
          round(col("mean") / 100.0, 2).as("mean_unit_price"),
          round(col("sd") / col("mean"), 6).as("cv"))
        .orderBy(col("cv").desc, col("partkey").asc)
        .limit(20)
    }),

    // X̄/R chart per type: consecutive full 5-day subgroups (stated),
    // limits X̄̄ ± A2·R̄ with A2(5)=577/1000; out-of-control blocks
    // counted by the exact 1000·nb·sum5 vs 1000·ΣS ± 2885·ΣR
    // comparison.
    "q_xbar_r_chart" -> ((s, d) => {
      val blocks = DailyGrid.mean(s, d)
        .withColumn("i", col("i") - 1)
        .withColumn("blk", expr("i div 5"))
        .groupBy("event_type", "blk")
        .agg(count(lit(1)).as("bn"), sum("y").as("sum5"),
          (max("y") - min("y")).as("r"))
        .filter(col("bn") === 5)
        .localCheckpoint(eager = true)
      val tot = blocks.groupBy("event_type")
        .agg(count(lit(1)).as("nb"), sum("sum5").as("ss"),
          sum("r").as("sr"))
      blocks.join(tot, "event_type")
        .withColumn("hi", lit(1000L) * col("nb") * col("sum5")
          > lit(1000L) * col("ss") + lit(2885L) * col("sr"))
        .withColumn("lo", lit(1000L) * col("nb") * col("sum5")
          < lit(1000L) * col("ss") - lit(2885L) * col("sr"))
        .groupBy("event_type")
        .agg(max("nb").as("n_blocks"), max("ss").as("ss"),
          max("sr").as("sr"), max("nb").as("nb2"),
          sum(when(col("hi") || col("lo"), 1L).otherwise(0L))
            .as("n_ooc"))
        .select(col("event_type"), col("n_blocks"),
          round(col("ss").cast("double") / (col("nb2") * 5) / 1000, 6)
            .as("xbarbar"),
          round(col("sr").cast("double") / col("nb2") / 1000, 6)
            .as("rbar"),
          round((col("ss").cast("double") / (col("nb2") * 5)
            + lit(0.577) * col("sr") / col("nb2")) / 1000, 6).as("ucl"),
          round((col("ss").cast("double") / (col("nb2") * 5)
            - lit(0.577) * col("sr") / col("nb2")) / 1000, 6).as("lcl"),
          col("n_ooc"))
        .orderBy("event_type")
    }),

    // G-test of event_type × ISO day-of-week independence: G =
    // 2·Σ O·ln(O·N/(R·C)) with per-cell terms snapped to 1e6 (zero
    // cells contribute 0, stated).
    "q_g_test" -> ((s, d) => {
      val cell = Tables.events(s, d)
        .groupBy(col("event_type").as("t"),
          dayofweek(col("ts")).cast("long").as("dw"))
        .agg(count(lit(1)).as("o"))
        .localCheckpoint(eager = true)
      val rt = cell.groupBy("t").agg(sum("o").as("rr"))
      val ct = cell.groupBy("dw").agg(sum("o").as("cc"))
      val nt = cell.agg(sum("o").as("nn"),
        countDistinct("t").as("nr"), countDistinct("dw").as("nc"))
      cell.join(rt, "t").join(ct, "dw").crossJoin(broadcast(nt))
        .withColumn("term_u",
          round(col("o") * log(col("o").cast("double") * col("nn")
            / (col("rr").cast("double") * col("cc"))) * 1e6)
            .cast("long"))
        .agg(max("nn").as("n"), sum("term_u").as("st"),
          max((col("nr") - 1) * (col("nc") - 1)).as("df"))
        .select(col("n").as("n_events"), col("df"),
          round(lit(2.0) * col("st") / 1e6, 6).as("g_stat"))
    }),

    // Month-chained Laspeyres: per (part, ship-month) cent-snapped
    // unit value + quantity; the m→m+1 link over common parts, each
    // ln(link) snapped to 1e9; chained index = exp(Σ ln links).
    "q_chained_index" -> ((s, d) => {
      val pm = Tables.lineitem(s, d)
        .groupBy(col("l_partkey").as("pk"),
          date_trunc("month", col("l_shipdate")).cast("date").as("m"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("sc"),
          sum(col("l_quantity").cast("long")).as("qq"))
        .filter(col("qq") > 0)
        .select(col("pk"), col("m"),
          round(col("sc").cast("double") / col("qq")).cast("long")
            .as("u"), col("qq"))
        .localCheckpoint(eager = true)
      // shift NEXT month's unit value back onto month m's key, so the
      // join groups by the link's BASE month (u1 = u_{m+1})
      val nxt = pm.select(col("pk"), add_months(col("m"), -1).as("m"),
        col("u").as("u1"))
      val links = pm.join(nxt, Seq("pk", "m"))
        .groupBy("m")
        .agg(sum(col("u1") * col("qq")).as("num"),
          sum(col("u") * col("qq")).as("den"),
          count(lit(1)).as("n_common"))
        .filter(col("den") > 0 && col("n_common") >= 5)
        .select(col("m"),
          round(log(col("num").cast("double") / col("den")) * 1e9)
            .cast("long").as("lnl"))
      links.agg(count(lit(1)).as("n_links"), sum("lnl").as("sl"))
        .select(col("n_links"),
          round(exp(col("sl") / 1e9), 6).as("chained_index"))
    }),

    // Gastwirth estimator over per-customer revenue: 0.3·Q(1/3) +
    // 0.4·median + 0.3·Q(2/3), type-1 order statistics at ceil(p·n)
    // (stated) — the ×10-cleared long (3a + 4b + 3c)/10.
    "q_gastwirth" -> ((s, d) => {
      // customer-grain global rank → range-partitioned (r10 VERDICT
      // task 4); n = max rank off the cheap checkpointed rank table
      val ranked = graft.operators.PrefixSum.rank(
        StatsR9ze.custRev(s, d), Seq(col("x").asc, col("c").asc), "rk")
      ranked
        .crossJoin(broadcast(ranked.agg(max("rk").as("n"))))
        .agg(max("n").as("n_customers"),
          sum(when(col("rk") === expr("(n + 2) div 3"), col("x"))
            .otherwise(0L)).as("q13"),
          sum(when(col("rk") === expr("(n + 1) div 2"), col("x"))
            .otherwise(0L)).as("q12"),
          sum(when(col("rk") === expr("(2 * n + 2) div 3"), col("x"))
            .otherwise(0L)).as("q23"))
        .select(col("n_customers"),
          round((lit(3L) * col("q13") + lit(4L) * col("q12")
            + lit(3L) * col("q23")).cast("double") / 10 / 100, 2)
            .as("gastwirth"))
    }),

    // Lorenz asymmetry: S = F(μ) + L(μ) with the strict-below-mean
    // convention (stated): F = #{n·x < S}/n, L = Σ_{n·x<S} x / S —
    // both exact long comparisons.
    "q_lorenz_asymmetry" -> ((s, d) => {
      val cr = StatsR9ze.custRev(s, d)
      val tot = cr.agg(count(lit(1)).as("n"), sum("x").as("sx"))
      cr.crossJoin(broadcast(tot))
        .agg(max("n").as("n_customers"), max("sx").as("sx2"),
          sum(when(col("n") * col("x") < col("sx"), 1L).otherwise(0L))
            .as("m_below"),
          sum(when(col("n") * col("x") < col("sx"), col("x"))
            .otherwise(0L)).as("x_below"))
        .select(col("n_customers"), col("m_below"),
          round(col("m_below").cast("double") / col("n_customers")
            + col("x_below").cast("double") / col("sx2"), 6)
            .as("lorenz_asymmetry"))
    })
  )

  val oracle: Map[String, String] = Map(
    // identical snapped unit values and CV chain
    "q_price_dispersion" ->
      """WITH uv AS (
        |  SELECT l_partkey AS pk,
        |    CAST(ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
        |      * 1.0 / SUM(CAST(l_quantity AS BIGINT))) AS BIGINT) AS u
        |  FROM lineitem GROUP BY l_partkey, l_suppkey
        |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 0),
        |ag AS (
        |  SELECT pk, CAST(COUNT(*) AS BIGINT) AS ns, SUM(u) AS su,
        |    SUM(CAST(u AS HUGEINT) * u) AS suu
        |  FROM uv GROUP BY 1),
        |st AS (
        |  SELECT pk, ns,
        |    CAST(su AS DOUBLE) / ns AS mean,
        |    sqrt(CAST(suu AS DOUBLE) / ns
        |      - (CAST(su AS DOUBLE) / ns) * (CAST(su AS DOUBLE) / ns))
        |      AS sd
        |  FROM ag WHERE ns >= 3 AND su > 0)
        |SELECT pk AS partkey, ns AS n_suppliers,
        |  ROUND(mean / 100.0, 2) AS mean_unit_price,
        |  ROUND(sd / mean, 6) AS cv
        |FROM st ORDER BY cv DESC, partkey ASC LIMIT 20""".stripMargin,

    // identical 577/1000 cleared OOC tests
    "q_xbar_r_chart" ->
      (s"WITH ${DailyGrid.dmCte}," +
      """
        |ix AS (
        |  SELECT event_type, y,
        |    (CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY d) AS BIGINT) - 1) // 5 AS blk
        |  FROM dm),
        |blocks AS (
        |  SELECT event_type, blk, CAST(COUNT(*) AS BIGINT) AS bn,
        |    SUM(y) AS sum5, MAX(y) - MIN(y) AS r
        |  FROM ix GROUP BY 1, 2 HAVING COUNT(*) = 5),
        |tot AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nb,
        |    SUM(sum5) AS ss, SUM(r) AS sr
        |  FROM blocks GROUP BY 1)
        |SELECT b.event_type, MAX(t.nb) AS n_blocks,
        |  ROUND(CAST(MAX(t.ss) AS DOUBLE) / (MAX(t.nb) * 5) / 1000, 6)
        |    AS xbarbar,
        |  ROUND(CAST(MAX(t.sr) AS DOUBLE) / MAX(t.nb) / 1000, 6)
        |    AS rbar,
        |  ROUND((CAST(MAX(t.ss) AS DOUBLE) / (MAX(t.nb) * 5)
        |    + 0.577 * MAX(t.sr) / MAX(t.nb)) / 1000, 6) AS ucl,
        |  ROUND((CAST(MAX(t.ss) AS DOUBLE) / (MAX(t.nb) * 5)
        |    - 0.577 * MAX(t.sr) / MAX(t.nb)) / 1000, 6) AS lcl,
        |  CAST(SUM(CASE WHEN 1000 * t.nb * b.sum5
        |      > 1000 * t.ss + 2885 * t.sr
        |    OR 1000 * t.nb * b.sum5 < 1000 * t.ss - 2885 * t.sr
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_ooc
        |FROM blocks b JOIN tot t ON b.event_type = t.event_type
        |GROUP BY b.event_type
        |ORDER BY b.event_type""".stripMargin),

    // identical per-cell snapped G terms
    "q_g_test" ->
      """WITH cell AS (
        |  SELECT event_type AS t, CAST(dayofweek(ts) AS BIGINT) AS dw,
        |    CAST(COUNT(*) AS BIGINT) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT t, SUM(o) AS rr FROM cell GROUP BY 1),
        |ct AS (SELECT dw, SUM(o) AS cc FROM cell GROUP BY 1),
        |nt AS (SELECT SUM(o) AS nn,
        |    CAST(COUNT(DISTINCT t) AS BIGINT) AS nr,
        |    CAST(COUNT(DISTINCT dw) AS BIGINT) AS nc
        |  FROM cell),
        |terms AS (
        |  SELECT cell.o,
        |    CAST(ROUND(cell.o * LN(CAST(cell.o AS DOUBLE) * nt.nn
        |      / (CAST(rt.rr AS DOUBLE) * ct.cc)) * 1e6) AS BIGINT)
        |      AS term_u,
        |    nt.nn, (nt.nr - 1) * (nt.nc - 1) AS df
        |  FROM cell
        |  JOIN rt ON cell.t = rt.t
        |  JOIN ct ON cell.dw = ct.dw
        |  CROSS JOIN nt)
        |SELECT CAST(MAX(nn) AS BIGINT) AS n_events,
        |  CAST(MAX(df) AS BIGINT) AS df,
        |  ROUND(2.0 * SUM(term_u) / 1e6, 6) AS g_stat
        |FROM terms""".stripMargin,

    // identical snapped month links
    "q_chained_index" ->
      """WITH pm AS (
        |  SELECT l_partkey AS pk,
        |    CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE)
        |      AS m,
        |    CAST(ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
        |      * 1.0 / SUM(CAST(l_quantity AS BIGINT))) AS BIGINT) AS u,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qq
        |  FROM lineitem GROUP BY 1, 2
        |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 0),
        |links AS (
        |  SELECT a.m,
        |    CAST(ROUND(LN(CAST(SUM(b.u * a.qq) AS DOUBLE)
        |      / SUM(a.u * a.qq)) * 1e9) AS BIGINT) AS lnl
        |  FROM pm a
        |  JOIN pm b ON b.pk = a.pk
        |    AND b.m = CAST(a.m + INTERVAL 1 MONTH AS DATE)
        |  GROUP BY a.m
        |  HAVING SUM(a.u * a.qq) > 0 AND COUNT(*) >= 5)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_links,
        |  ROUND(EXP(SUM(lnl) / 1e9), 6) AS chained_index
        |FROM links""".stripMargin,

    // identical ×10-cleared weighted order statistics
    "q_gastwirth" ->
      (s"WITH ${StatsR9ze.crCte}," +
      """
        |rk AS (
        |  SELECT x,
        |    CAST(row_number() OVER (ORDER BY x, c) AS BIGINT) AS rk,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n
        |  FROM cr)
        |SELECT MAX(n) AS n_customers,
        |  ROUND(CAST(3 * SUM(CASE WHEN rk = (n + 2) // 3 THEN x
        |      ELSE 0 END)
        |    + 4 * SUM(CASE WHEN rk = (n + 1) // 2 THEN x ELSE 0 END)
        |    + 3 * SUM(CASE WHEN rk = (2 * n + 2) // 3 THEN x
        |      ELSE 0 END) AS DOUBLE) / 10 / 100, 2) AS gastwirth
        |FROM rk""".stripMargin),

    // identical strict-below-mean flags
    "q_lorenz_asymmetry" ->
      (s"WITH ${StatsR9ze.crCte}," +
      """
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx
        |        FROM cr)
        |SELECT MAX(n) AS n_customers,
        |  CAST(SUM(CASE WHEN n * x < sx THEN 1 ELSE 0 END) AS BIGINT)
        |    AS m_below,
        |  ROUND(CAST(SUM(CASE WHEN n * x < sx THEN 1 ELSE 0 END)
        |      AS DOUBLE) / MAX(n)
        |    + CAST(SUM(CASE WHEN n * x < sx THEN x ELSE 0 END)
        |      AS DOUBLE) / MAX(sx), 6) AS lorenz_asymmetry
        |FROM cr, tot""".stripMargin)
  )
}
