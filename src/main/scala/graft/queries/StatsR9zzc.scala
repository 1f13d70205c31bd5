package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Round-9 wave 56 (SURVEY.md §2 B.10b): the health-econ
  * concentration index of purchase revenue over the activity rank
  * (fully cleared), a two-way fixed-effects decomposition of the
  * type×day panel with snapped residual squares, James-Stein
  * shrinkage of type means, the shift-share (within vs mix)
  * decomposition of half-over-half revenue growth, Kish's effective
  * sample size for inverse-activity weights, and the systematic
  * (market-R²) share of each type's return variance.
  */
object StatsR9zzc {

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Concentration index of purchase revenue vs the activity rank
    // ((events ASC, user ASC), stated): CI = (2Σr·y − (n+1)Σy)/(nΣy),
    // every term exact (DECIMAL r·y).
    "q_concentration_index" -> ((s, d) => {
      val per = Tables.events(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).as("k"),
          sum(when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long")).otherwise(0L))
            .as("y"))
      // user-grain global rank → range-partitioned (r10 VERDICT task 4)
      val ranked = graft.operators.PrefixSum.rank(per,
        Seq(col("k").asc, col("user_id").asc), "r")
      ranked.agg(count(lit(1)).as("n"), sum("y").as("sy"),
          sum(col("r").cast("decimal(38,0)") * col("y")).as("sry"))
        .filter(col("sy") > 0)
        .select(col("n").as("n_users"),
          round((lit(2.0) * col("sry").cast("double")
            - (col("n") + 1).cast("double") * col("sy"))
            / (col("n").cast("double") * col("sy")), 6)
            .as("concentration_index"))
    }),

    // Two-way FE decomposition of the type×day milli-mean panel:
    // e = y − ȳ_type − ȳ_day + ȳ (identical double chains), e²
    // snapped to 1e6; R²_FE = 1 − SSres/SStot with SStot cleared.
    "q_twoway_fe" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d)
        .select(col("event_type").as("t"), col("d"), col("y"))
      val mt = dm.groupBy("t").agg(count(lit(1)).as("nt"),
        sum("y").as("st"))
      val md = dm.groupBy("d").agg(count(lit(1)).as("ndd"),
        sum("y").as("sd2"))
      val g = dm.agg(count(lit(1)).as("n"), sum("y").as("sg"),
        sum(col("y") * col("y")).as("sgg"))
      val res = dm.join(mt, "t").join(md, "d").crossJoin(broadcast(g))
        .withColumn("e", col("y")
          - col("st").cast("double") / col("nt")
          - col("sd2").cast("double") / col("ndd")
          + col("sg").cast("double") / col("n"))
        .select(round(col("e") * col("e")).cast("long").as("e2"),
          col("n"), col("sg"), col("sgg"))
      res.agg(max("n").as("n_cells"), max("sg").as("sg"),
          max("sgg").as("sgg"), sum("e2").as("ssres"))
        .withColumn("sstot", (col("n_cells") * col("sgg")
          - col("sg") * col("sg")).cast("double") / col("n_cells"))
        .filter(col("sstot") > 0)
        .select(col("n_cells"),
          round(lit(1.0) - col("ssres") / col("sstot"), 6)
            .as("r2_two_way_fe"),
          round(sqrt(col("ssres").cast("double") / col("n_cells"))
            / 1000, 6).as("rmse"))
    }),

    // James-Stein shrinkage of the type means toward the grand mean:
    // c = max(0, 1 − (k−3)·σ̂²/Σ(m_t − m̄)²), σ̂² = pooled within
    // variance of daily values / days-per-type (balanced n stated as
    // the mean days), shrunk = m̄ + c(m_t − m̄).
    "q_james_stein" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d)
        .select(col("event_type").as("t"), col("y"))
      val mt = dm.groupBy("t").agg(count(lit(1)).as("nt"),
          sum("y").as("st"),
          sum(col("y") * col("y")).as("stt"))
        .withColumn("m", col("st").cast("double") / col("nt"))
        .localCheckpoint(eager = true)
      val g = mt.agg(count(lit(1)).as("k"), sum("nt").as("ntot"),
        sum("st").as("sg"),
        sum((col("nt") * col("stt") - col("st") * col("st"))
          .cast("double") / col("nt")).as("ssw"))
      val withG = mt.crossJoin(broadcast(g))
        .withColumn("mbar", col("sg").cast("double") / col("ntot"))
        .withColumn("dev2", (col("m") - col("mbar"))
          * (col("m") - col("mbar")))
      val sdev = withG.agg(sum("dev2").as("sdev"),
        max(col("ssw") / (col("ntot") - col("k"))
          / (col("ntot").cast("double") / col("k"))).as("sig2m"),
        max("k").as("k2"))
      withG.crossJoin(broadcast(sdev))
        .withColumn("c", greatest(lit(0.0), lit(1.0)
          - (col("k2") - 3).cast("double") * col("sig2m")
            / col("sdev")))
        .select(col("t").as("event_type"),
          round(col("m") / 1000, 6).as("raw_mean"),
          round((col("mbar") + col("c") * (col("m") - col("mbar")))
            / 1000, 6).as("js_shrunk_mean"),
          round(col("c"), 6).as("js_factor"))
        .orderBy("event_type")
    }),

    // Shift-share: half-over-half revenue growth = within-brand
    // (base-share-weighted brand growth, per-brand terms snapped
    // 1e9) + mix residual. Oracle ROUNDs carry "+ 0" so a tiny
    // negative residual that DuckDB rounds to IEEE -0.0 matches
    // Spark's BigDecimal +0.0 (r9 hash-FAIL class).
    "q_shift_share" -> ((s, d) => {
      val bh = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(sum(when(col("o_orderdate")
            < lit("1998-01-01").cast("timestamp_ntz"),
          round(col("l_extendedprice") * 100).cast("long"))
          .otherwise(0L)).as("r1"),
          sum(when(col("o_orderdate")
              >= lit("1998-01-01").cast("timestamp_ntz"),
            round(col("l_extendedprice") * 100).cast("long"))
            .otherwise(0L)).as("r2"))
        .filter(col("r1") > 0)
        .localCheckpoint(eager = true)
      val tot = bh.agg(sum("r1").as("s1"), sum("r2").as("s2"))
      bh.crossJoin(broadcast(tot))
        .withColumn("term_u",
          round(col("r1").cast("double") / col("s1")
            * (col("r2").cast("double") / col("r1") - 1) * 1e9)
            .cast("long"))
        .agg(count(lit(1)).as("n_brands"), max("s1").as("s1"),
          max("s2").as("s2"), sum("term_u").as("sw"))
        .select(col("n_brands"),
          round(col("s2").cast("double") / col("s1") - 1, 6)
            .as("total_growth"),
          round(col("sw") / 1e9, 6).as("within_growth"),
          round((col("s2").cast("double") / col("s1") - 1)
            - col("sw") / 1e9, 6).as("mix_effect"))
    }),

    // Kish effective sample size for inverse-activity weights
    // w = 1/k snapped to 1e9: n_eff = (Σw)²/Σw², DEFF = n·Σw²/(Σw)².
    "q_kish_neff" -> ((s, d) => {
      val per = Tables.events(s, d)
        .groupBy("user_id").agg(count(lit(1)).as("k"))
        .select(round(lit(1e9) / col("k")).cast("long").as("w"))
      per.agg(count(lit(1)).as("n"),
          sum(col("w").cast("decimal(38,0)")).as("sw"),
          sum(col("w").cast("decimal(38,0)") * col("w")).as("sww"))
        .filter(col("sww") > 0)
        .select(col("n").as("n_users"),
          round(col("sw").cast("double") * col("sw").cast("double")
            / col("sww").cast("double"), 4).as("n_eff"),
          round(col("n") * col("sww").cast("double")
            / (col("sw").cast("double") * col("sw").cast("double")), 6)
            .as("kish_deff"))
    }),

    // Systematic share per type: R² of the µ-return on the market
    // (the jensen moments), idiosyncratic = 1 − R².
    "q_systematic_share" -> ((s, d) => {
      val j = DailyGrid.ret(s, d)
        .join(DailyGrid.marketRet(s, d), "d")
      j.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("rm_u").as("sx"),
          sum("r_u").as("sy"),
          sum(col("rm_u") * col("r_u")).as("sxy"),
          sum(col("rm_u") * col("rm_u")).as("sxx"),
          sum(col("r_u") * col("r_u")).as("syy"))
        .withColumn("cxy", col("n") * col("sxy") - col("sx") * col("sy"))
        .withColumn("cxx", col("n") * col("sxx") - col("sx") * col("sx"))
        .withColumn("cyy", col("n") * col("syy") - col("sy") * col("sy"))
        .filter(col("cxx") > 0 && col("cyy") > 0)
        .withColumn("r2", col("cxy").cast("double") * col("cxy")
          / (col("cxx").cast("double") * col("cyy")))
        .select(col("event_type"), col("n").as("n_days"),
          round(col("r2"), 6).as("systematic_share"),
          round(lit(1.0) - col("r2"), 6).as("idiosyncratic_share"))
        .orderBy("event_type")
    })
  )

  val oracle: Map[String, String] = Map(
    // identical cleared rank covariance
    "q_concentration_index" ->
      """WITH per AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |rk AS (
        |  SELECT y,
        |    CAST(row_number() OVER (ORDER BY k, user_id) AS BIGINT)
        |      AS r
        |  FROM per),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(y) AS sy,
        |    SUM(CAST(r AS HUGEINT) * y) AS sry
        |  FROM rk)
        |SELECT n AS n_users,
        |  ROUND((2.0 * CAST(sry AS DOUBLE)
        |    - CAST(n + 1 AS DOUBLE) * sy)
        |    / (CAST(n AS DOUBLE) * sy), 6) AS concentration_index
        |FROM ag WHERE sy > 0""".stripMargin,

    // identical snapped FE residuals
    "q_twoway_fe" -> (s"WITH ${DailyGrid.dmCte}," +
      """
        |mt AS (
        |  SELECT event_type AS t, CAST(COUNT(*) AS BIGINT) AS nt,
        |    SUM(y) AS st
        |  FROM dm GROUP BY 1),
        |md AS (
        |  SELECT d, CAST(COUNT(*) AS BIGINT) AS ndd, SUM(y) AS sd2
        |  FROM dm GROUP BY 1),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(y) AS sg,
        |    SUM(y * y) AS sgg
        |  FROM dm),
        |res AS (
        |  SELECT CAST(ROUND((dm.y - CAST(mt.st AS DOUBLE) / mt.nt
        |      - CAST(md.sd2 AS DOUBLE) / md.ndd
        |      + CAST(g.sg AS DOUBLE) / g.n)
        |    * (dm.y - CAST(mt.st AS DOUBLE) / mt.nt
        |      - CAST(md.sd2 AS DOUBLE) / md.ndd
        |      + CAST(g.sg AS DOUBLE) / g.n)) AS BIGINT) AS e2,
        |    g.n, g.sg, g.sgg
        |  FROM dm
        |  JOIN mt ON dm.event_type = mt.t
        |  JOIN md ON dm.d = md.d
        |  CROSS JOIN g),
        |ag AS (
        |  SELECT MAX(n) AS n_cells, MAX(sg) AS sg, MAX(sgg) AS sgg,
        |    SUM(e2) AS ssres
        |  FROM res),
        |st AS (
        |  SELECT n_cells, ssres,
        |    CAST(n_cells * sgg - sg * sg AS DOUBLE) / n_cells
        |      AS sstot
        |  FROM ag)
        |SELECT CAST(n_cells AS BIGINT) AS n_cells,
        |  ROUND(1.0 - ssres / sstot, 6) AS r2_two_way_fe,
        |  ROUND(sqrt(CAST(ssres AS DOUBLE) / n_cells) / 1000, 6)
        |    AS rmse
        |FROM st WHERE sstot > 0""".stripMargin),

    // identical pooled-σ² shrinkage
    "q_james_stein" -> (s"WITH ${DailyGrid.dmCte}," +
      """
        |mt AS (
        |  SELECT event_type AS t, CAST(COUNT(*) AS BIGINT) AS nt,
        |    SUM(y) AS st, SUM(y * y) AS stt,
        |    CAST(SUM(y) AS DOUBLE) / COUNT(*) AS m
        |  FROM dm GROUP BY 1),
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS k, SUM(nt) AS ntot,
        |    SUM(st) AS sg,
        |    SUM(CAST(nt * stt - st * st AS DOUBLE) / nt) AS ssw
        |  FROM mt),
        |wg AS (
        |  SELECT mt.t, mt.m, g.k, g.ntot,
        |    CAST(g.sg AS DOUBLE) / g.ntot AS mbar,
        |    (mt.m - CAST(g.sg AS DOUBLE) / g.ntot)
        |      * (mt.m - CAST(g.sg AS DOUBLE) / g.ntot) AS dev2,
        |    g.ssw / (g.ntot - g.k)
        |      / (CAST(g.ntot AS DOUBLE) / g.k) AS sig2m
        |  FROM mt, g),
        |sd AS (SELECT SUM(dev2) AS sdev, MAX(sig2m) AS sig2m,
        |         MAX(k) AS k2 FROM wg)
        |SELECT wg.t AS event_type,
        |  ROUND(wg.m / 1000, 6) AS raw_mean,
        |  ROUND((wg.mbar + GREATEST(0.0, 1.0
        |    - CAST(sd.k2 - 3 AS DOUBLE) * sd.sig2m / sd.sdev)
        |    * (wg.m - wg.mbar)) / 1000, 6) AS js_shrunk_mean,
        |  ROUND(GREATEST(0.0, 1.0
        |    - CAST(sd.k2 - 3 AS DOUBLE) * sd.sig2m / sd.sdev), 6)
        |    AS js_factor
        |FROM wg, sd ORDER BY event_type""".stripMargin),

    // identical snapped within terms
    "q_shift_share" ->
      """WITH bh AS (
        |  SELECT p.p_brand,
        |    SUM(CASE WHEN o.o_orderdate < TIMESTAMP '1998-01-01'
        |      THEN CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
        |      ELSE 0 END) AS r1,
        |    SUM(CASE WHEN o.o_orderdate >= TIMESTAMP '1998-01-01'
        |      THEN CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
        |      ELSE 0 END) AS r2
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1 HAVING r1 > 0),
        |tot AS (SELECT SUM(r1) AS s1, SUM(r2) AS s2 FROM bh),
        |terms AS (
        |  SELECT CAST(ROUND(CAST(bh.r1 AS DOUBLE) / tot.s1
        |    * (CAST(bh.r2 AS DOUBLE) / bh.r1 - 1) * 1e9) AS BIGINT)
        |    AS term_u,
        |    tot.s1, tot.s2
        |  FROM bh, tot)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_brands,
        |  ROUND(CAST(MAX(s2) AS DOUBLE) / MAX(s1) - 1, 6) + 0
        |    AS total_growth,
        |  ROUND(SUM(term_u) / 1e9, 6) + 0 AS within_growth,
        |  ROUND((CAST(MAX(s2) AS DOUBLE) / MAX(s1) - 1)
        |    - SUM(term_u) / 1e9, 6) + 0 AS mix_effect
        |FROM terms""".stripMargin,

    // identical snapped inverse weights
    "q_kish_neff" ->
      """WITH per AS (
        |  SELECT CAST(ROUND(1e9 / COUNT(*)) AS BIGINT) AS w
        |  FROM events GROUP BY user_id),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(w AS HUGEINT)) AS sw,
        |    SUM(CAST(w AS HUGEINT) * w) AS sww
        |  FROM per)
        |SELECT n AS n_users,
        |  ROUND(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
        |    / CAST(sww AS DOUBLE), 4) AS n_eff,
        |  ROUND(n * CAST(sww AS DOUBLE)
        |    / (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)), 6)
        |    AS kish_deff
        |FROM ag WHERE sww > 0""".stripMargin,

    // identical R² from the jensen moments
    "q_systematic_share" -> (s"WITH ${DailyGrid.retCte}, " +
      StatsR9zd.mrCte.replace("md AS", "md2 AS")
        .replace("FROM md", "FROM md2") +
      """,
        |j AS (
        |  SELECT ret.event_type, ret.r_u, mr.rm_u
        |  FROM ret JOIN mr ON ret.d = mr.d),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(rm_u) AS sx, SUM(r_u) AS sy,
        |    SUM(rm_u * r_u) AS sxy, SUM(rm_u * rm_u) AS sxx,
        |    SUM(r_u * r_u) AS syy
        |  FROM j GROUP BY 1),
        |cl AS (
        |  SELECT event_type, n,
        |    n * sxy - sx * sy AS cxy,
        |    n * sxx - sx * sx AS cxx,
        |    n * syy - sy * sy AS cyy
        |  FROM ag)
        |SELECT event_type, n AS n_days,
        |  ROUND(CAST(cxy AS DOUBLE) * cxy
        |    / (CAST(cxx AS DOUBLE) * cyy), 6) AS systematic_share,
        |  ROUND(1.0 - CAST(cxy AS DOUBLE) * cxy
        |    / (CAST(cxx AS DOUBLE) * cyy), 6) AS idiosyncratic_share
        |FROM cl WHERE cxx > 0 AND cyy > 0
        |ORDER BY event_type""".stripMargin)
  )
}
