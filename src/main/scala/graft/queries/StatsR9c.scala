package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-9 wave 3 (SURVEY.md §2 B.10b): time-series SHAPE analytics —
  * SAX symbolization, a matrix-profile nearest-neighbor distance
  * profile, QQ deciles, rolling skewness, a grouped-grid concordance
  * index, and the Breusch–Godfrey serial-correlation LM test. All on
  * bounded grids (days, windows of days, decile×lifetime cells);
  * exact long moments; the few double steps spelled identically in
  * the oracles.
  */
object StatsR9c {

  import DailyGrid.wo

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // SAX symbolization of the daily-mean series per type: z-scores
    // against the per-type exact moments, 4 symbols at the standard
    // quartile breakpoints (−0.6745, 0, 0.6745 — literals both
    // engines), emitted as the day-ordered symbol string plus the
    // alphabet histogram. Breakpoint comparisons are doubles built
    // from exact longs with one shared expression.
    "q_sax_symbols" -> ((s, d) => {
      val idx = DailyGrid.mean(s, d)
      val m = idx.groupBy(col("event_type").as("et2"))
        .agg(count(lit(1)).as("n"), sum("y").as("sy"),
          sum(col("y") * col("y")).as("sq"))
        .withColumn("mean", col("sy").cast("double") / col("n"))
        .withColumn("sd", sqrt((col("sq") - col("sy").cast("double")
          * col("sy") / col("n")) / (col("n") - 1)))
      idx.join(broadcast(m), col("event_type") === col("et2"))
        .withColumn("z", (col("y") - col("mean")) / col("sd"))
        .withColumn("sym", when(col("z") < -0.6745, lit("a"))
          .when(col("z") < 0.0, lit("b"))
          .when(col("z") < 0.6745, lit("c")).otherwise(lit("d")))
        .groupBy("event_type")
        .agg(concat_ws("", array_sort(collect_list(struct(col("i"),
            col("sym")))).getField("sym")).as("sax"),
          sum(when(col("sym") === "a", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("sym") === "b", 1L).otherwise(0L)).as("n_b"),
          sum(when(col("sym") === "c", 1L).otherwise(0L)).as("n_c"),
          sum(when(col("sym") === "d", 1L).otherwise(0L)).as("n_d"))
        .orderBy("event_type")
    }),

    // Matrix-profile (lite): z-normalized NN distance per 7-day
    // window over the daily-mean grid. Windows unroll to (i, o, y)
    // rows — |days|·7 per type, pairs of WINDOWS (≈ day²), never
    // events; pair dot products are exact long sums; d = √(2m(1−ρ))
    // snaps to 1e6; trivial matches |i−j|≤3 excluded; the NN is the
    // (d_u, j)-min struct — deterministic tiebreak.
    "q_matrix_profile" -> ((s, d) => {
      val m = 7
      val idx = DailyGrid.mean(s, d)
      val offs = s.range(0, m).select(col("id").as("o"))
      val win = idx.crossJoin(broadcast(offs))
        .withColumn("wi", col("i") - col("o"))
        .filter(col("wi") >= 1)
        .select(col("event_type"), col("wi"), col("o"), col("y"))
      val nWin = idx.groupBy(col("event_type").as("et3"))
        .agg((max("i") - (m - 1)).as("n_win"))
      val wstat = win.groupBy("event_type", "wi")
        .agg(count(lit(1)).as("cnt"), sum("y").as("sw"),
          sum(col("y") * col("y")).as("qw"))
        .join(nWin, col("event_type") === col("et3"))
        .filter(col("wi") <= col("n_win")) // full windows only
        .select(col("event_type"), col("wi"), col("sw"), col("qw"))
        .localCheckpoint(eager = true)
      val wa = win.select(col("event_type").as("eta"), col("wi").as("ia"),
        col("o"), col("y").as("ya"))
      val wb = win.select(col("event_type").as("etb"), col("wi").as("ib"),
        col("o").as("ob"), col("y").as("yb"))
      val prods = wa.join(wb, col("eta") === col("etb")
          && col("o") === col("ob") && col("ia") =!= col("ib"))
        .filter(abs(col("ia") - col("ib")) > 3) // exclusion zone
        .groupBy(col("eta"), col("ia"), col("ib"))
        .agg(sum(col("ya") * col("yb")).as("p"),
          count(lit(1)).as("novl"))
        .filter(col("novl") === m)
      val sa = wstat.select(col("event_type").as("e1"), col("wi").as("w1"),
        col("sw").as("s1"), col("qw").as("q1"))
      val sb = wstat.select(col("event_type").as("e2"), col("wi").as("w2"),
        col("sw").as("s2"), col("qw").as("q2"))
      prods
        .join(sa, col("eta") === col("e1") && col("ia") === col("w1"))
        .join(sb, col("eta") === col("e2") && col("ib") === col("w2"))
        .withColumn("rho", (lit(m.toDouble) * col("p")
            - col("s1").cast("double") * col("s2"))
          / sqrt((lit(m.toDouble) * col("q1")
              - col("s1").cast("double") * col("s1"))
            * (lit(m.toDouble) * col("q2")
              - col("s2").cast("double") * col("s2"))))
        .withColumn("d_u", round(sqrt(greatest(lit(0.0),
          lit(2.0 * m) * (lit(1.0) - col("rho")))) * 1e6).cast("long"))
        .groupBy(col("eta").as("event_type"), col("ia").as("win_idx"))
        .agg(min(struct(col("d_u"), col("ib"))).as("nn"))
        .select(col("event_type"), col("win_idx"),
          round(col("nn.d_u") / 1e6, 4).as("mp_dist"),
          col("nn.ib").as("nn_idx"))
        .orderBy("event_type", "win_idx")
    }),

    // QQ deciles of click vs view daily means: exact order
    // statistics at rank ceil(p·n) (the type-7-free convention both
    // engines agree on exactly), paired per decile.
    "q_qq_deciles" -> ((s, d) => {
      def decs(t: String, alias: String) = {
        val r = DailyGrid.mean(s, d).filter(col("event_type") === t)
          .withColumn("rk", row_number().over(
            Window.orderBy(col("y"), col("d"))).cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy()))
        s.range(1, 10).select(col("id").as("p10"))
          .join(r, col("rk") === ceil(col("p10") * col("n") / 10.0)
            .cast("long"))
          .select(col("p10"), round(col("y") / 1e3, 4).as(alias))
      }
      decs("click", "q_click").join(decs("view", "q_view"), "p10")
        .select(col("p10"), col("q_click"), col("q_view"),
          round(col("q_click") - col("q_view"), 4).as("diff"))
        .orderBy("p10")
    }),

    // Rolling skewness (14-day) of daily means: raw-sum central
    // moments (Σy, Σy², Σy³ exact longs — y³ ≤ 8e15·14 inside range),
    // Fisher g1 as one double expression per emitted day.
    "q_rolling_skew" -> ((s, d) => {
      val w14 = wo.rowsBetween(-13, 0)
      DailyGrid.mean(s, d)
        .withColumn("n14", count(lit(1)).over(w14))
        .withColumn("s1", sum("y").over(w14))
        .withColumn("s2", sum(col("y") * col("y")).over(w14))
        .withColumn("s3", sum(col("y") * col("y") * col("y")).over(w14))
        .filter(col("n14") === 14)
        .withColumn("m2", col("s2").cast("double") / 14.0
          - (col("s1").cast("double") / 14.0)
            * (col("s1").cast("double") / 14.0))
        .withColumn("m3", col("s3").cast("double") / 14.0
          - lit(3.0) * (col("s1").cast("double") / 14.0)
            * (col("s2").cast("double") / 14.0)
          + lit(2.0) * (col("s1").cast("double") / 14.0)
            * (col("s1").cast("double") / 14.0)
            * (col("s1").cast("double") / 14.0))
        .select(col("event_type"), col("d"),
          round(col("m3") / pow(col("m2"), 1.5), 6).as("skew14"))
        .orderBy("event_type", "d")
    }),

    // Concordance index of activity-decile score vs lifetime days,
    // on the GROUPED grid: users collapse to (score decile, lifetime)
    // cells with multiplicities, so the pair space is cells² (≤ ~310²)
    // regardless of user count — the c-index of the bucketed score,
    // stated. Ties in either coordinate count half.
    "q_cindex_lifetime" -> ((s, d) => {
      val u = Tables.events(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).as("cnt"),
          datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
            .cast("long").as("lt"))
      val dec = u
        .withColumn("rk", row_number().over(
          Window.orderBy(col("cnt"), col("user_id"))).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
        .withColumn("score", ceil(col("rk") * 10.0 / col("n")).cast("long"))
      val cells = dec.groupBy("score", "lt")
        .agg(count(lit(1)).as("m"))
        .localCheckpoint(eager = true)
      val b = cells.select(col("score").as("s2"), col("lt").as("l2"),
        col("m").as("m2"))
      cells.crossJoin(b)
        .filter(col("score") < col("s2")
          || (col("score") === col("s2") && col("lt") <= col("l2")))
        .agg(
          sum(when(col("score") < col("s2"),
            col("m") * col("m2")).otherwise(0L)).as("np"),
          sum(when(col("score") < col("s2") && col("lt") < col("l2"),
            col("m") * col("m2")).otherwise(0L)).as("conc"),
          sum(when(col("score") < col("s2") && col("lt") === col("l2"),
            col("m") * col("m2")).otherwise(0L)).as("tied"))
        .select(col("np").as("n_pairs"), col("conc").as("concordant"),
          col("tied").as("tied_lt"),
          round((col("conc") + col("tied") / 2.0) / col("np"), 6)
            .as("c_index"))
    }),

    // Breusch–Godfrey LM test for AR(1) residual serial correlation
    // per type: the deci-snapped trend residuals regress on (t, e₁)
    // closed form (white_test normal equations), LM = (n−1)·R².
    "q_breusch_godfrey" -> ((s, d) => {
      val fit = DailyGrid.mean(s, d).groupBy(col("event_type").as("etf"))
        .agg(count(lit(1)).as("nf"), sum("i").as("st"), sum("y").as("sy"),
          sum(col("i") * col("y")).as("sty"),
          sum(col("i") * col("i")).as("stt"))
        .withColumn("slope", (col("nf").cast("double") * col("sty")
            - col("st").cast("double") * col("sy"))
          / (col("nf").cast("double") * col("stt")
            - col("st").cast("double") * col("st")))
        .withColumn("icept", (col("sy") - col("slope") * col("st"))
          / col("nf"))
      val e = DailyGrid.mean(s, d)
        .join(fit, col("event_type") === col("etf"))
        .withColumn("e_u", round((col("y") - col("slope") * col("i")
          - col("icept")) / 100).cast("long"))
        .withColumn("pe", lag("e_u", 1).over(wo))
        .filter(col("pe").isNotNull)
        .select(col("event_type"), col("e_u").as("yv"),
          col("i").as("x1"), col("pe").as("x2"))
      e.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("yv").as("sy"), sum("x1").as("s1"), sum("x2").as("s2"),
          sum(col("yv") * col("yv")).as("syy"),
          sum(col("yv") * col("x1")).as("sy1"),
          sum(col("yv") * col("x2")).as("sy2"),
          sum(col("x1") * col("x1")).as("s11"),
          sum(col("x1") * col("x2")).as("s12"),
          sum(col("x2") * col("x2")).as("s22"))
        .withColumn("cyy", col("syy") - col("sy").cast("double")
          * col("sy") / col("n"))
        .withColumn("cy1", col("sy1") - col("sy").cast("double")
          * col("s1") / col("n"))
        .withColumn("cy2", col("sy2") - col("sy").cast("double")
          * col("s2") / col("n"))
        .withColumn("c11", col("s11") - col("s1").cast("double")
          * col("s1") / col("n"))
        .withColumn("c12", col("s12") - col("s1").cast("double")
          * col("s2") / col("n"))
        .withColumn("c22", col("s22") - col("s2").cast("double")
          * col("s2") / col("n"))
        .withColumn("det", col("c11") * col("c22")
          - col("c12") * col("c12"))
        .withColumn("b1", (col("cy1") * col("c22")
          - col("cy2") * col("c12")) / col("det"))
        .withColumn("b2", (col("cy2") * col("c11")
          - col("cy1") * col("c12")) / col("det"))
        .withColumn("r2", (col("b1") * col("cy1")
          + col("b2") * col("cy2")) / col("cyy"))
        .select(col("event_type"), col("n"),
          round(col("b2"), 6).as("ar1_coef"),
          round(col("n") * col("r2"), 4).as("bg_lm"))
        .orderBy("event_type")
    })
  )

  private val idxCte: String =
    """idx AS (
      |  SELECT event_type, d, y,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
      |      AS BIGINT) AS i
      |  FROM (SELECT event_type, CAST(ts AS DATE) AS d,
      |          CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) // COUNT(*)
      |            AS BIGINT) AS y
      |        FROM events GROUP BY 1, 2))""".stripMargin

  val oracle: Map[String, String] = Map(
    // identical z breakpoints and day-ordered symbol aggregation
    "q_sax_symbols" ->
      s"""WITH $idxCte,
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(y * y) AS BIGINT) AS sq
        |  FROM idx GROUP BY 1),
        |z AS (
        |  SELECT idx.event_type, idx.i,
        |    (idx.y - CAST(m.sy AS DOUBLE) / m.n)
        |      / sqrt((m.sq - CAST(m.sy AS DOUBLE) * m.sy / m.n)
        |        / (m.n - 1)) AS z
        |  FROM idx JOIN m ON idx.event_type = m.event_type),
        |sym AS (
        |  SELECT event_type, i,
        |    CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0.0 THEN 'b'
        |      WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS sym
        |  FROM z)
        |SELECT event_type,
        |  string_agg(sym, '' ORDER BY i) AS sax,
        |  CAST(SUM(CASE WHEN sym = 'a' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_a,
        |  CAST(SUM(CASE WHEN sym = 'b' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_b,
        |  CAST(SUM(CASE WHEN sym = 'c' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_c,
        |  CAST(SUM(CASE WHEN sym = 'd' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_d
        |FROM sym GROUP BY 1 ORDER BY event_type""".stripMargin,

    // identical exact window moments, 1e6 snap, (d_u, j)-min pick
    "q_matrix_profile" ->
      s"""WITH $idxCte,
        |win AS (
        |  SELECT idx.event_type, idx.i - o.o AS wi, o.o, idx.y
        |  FROM idx
        |  CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS o) o
        |  WHERE idx.i - o.o >= 1),
        |nw AS (
        |  SELECT event_type, MAX(i) - 6 AS n_win FROM idx GROUP BY 1),
        |wstat AS (
        |  SELECT w.event_type, w.wi,
        |    CAST(SUM(w.y) AS BIGINT) AS sw,
        |    CAST(SUM(w.y * w.y) AS BIGINT) AS qw
        |  FROM win w JOIN nw ON w.event_type = nw.event_type
        |  GROUP BY 1, 2
        |  HAVING w.wi <= MAX(nw.n_win)),
        |prods AS (
        |  SELECT a.event_type, a.wi AS ia, b.wi AS ib,
        |    CAST(SUM(a.y * b.y) AS BIGINT) AS p,
        |    CAST(COUNT(*) AS BIGINT) AS novl
        |  FROM win a JOIN win b ON a.event_type = b.event_type
        |    AND a.o = b.o AND a.wi <> b.wi
        |  WHERE abs(a.wi - b.wi) > 3
        |  GROUP BY 1, 2, 3
        |  HAVING COUNT(*) = 7),
        |dist AS (
        |  SELECT p.event_type, p.ia, p.ib,
        |    CAST(ROUND(sqrt(greatest(0.0, 14.0 * (1.0
        |      - (7.0 * p.p - CAST(s1.sw AS DOUBLE) * s2.sw)
        |        / sqrt((7.0 * s1.qw - CAST(s1.sw AS DOUBLE) * s1.sw)
        |          * (7.0 * s2.qw - CAST(s2.sw AS DOUBLE) * s2.sw)))))
        |      * 1e6) AS BIGINT) AS d_u
        |  FROM prods p
        |  JOIN wstat s1 ON p.event_type = s1.event_type AND p.ia = s1.wi
        |  JOIN wstat s2 ON p.event_type = s2.event_type AND p.ib = s2.wi),
        |r AS (
        |  SELECT event_type, ia, ib, d_u,
        |    row_number() OVER (PARTITION BY event_type, ia
        |      ORDER BY d_u, ib) AS rn
        |  FROM dist)
        |SELECT event_type, ia AS win_idx, ROUND(d_u / 1e6, 4) AS mp_dist,
        |  ib AS nn_idx
        |FROM r WHERE rn = 1 ORDER BY event_type, win_idx""".stripMargin,

    // identical ceil-rank order statistics
    "q_qq_deciles" ->
      s"""WITH $idxCte,
        |rc AS (
        |  SELECT y, CAST(row_number() OVER (ORDER BY y, d) AS BIGINT)
        |      AS rk,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n
        |  FROM idx WHERE event_type = 'click'),
        |rv AS (
        |  SELECT y, CAST(row_number() OVER (ORDER BY y, d) AS BIGINT)
        |      AS rk,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n
        |  FROM idx WHERE event_type = 'view'),
        |p AS (SELECT unnest(generate_series(1, 9)) AS p10),
        |qc AS (
        |  SELECT p.p10, ROUND(rc.y / 1e3, 4) AS q_click
        |  FROM p JOIN rc ON rc.rk = CAST(ceil(p.p10 * rc.n / 10.0)
        |    AS BIGINT)),
        |qv AS (
        |  SELECT p.p10, ROUND(rv.y / 1e3, 4) AS q_view
        |  FROM p JOIN rv ON rv.rk = CAST(ceil(p.p10 * rv.n / 10.0)
        |    AS BIGINT))
        |SELECT qc.p10, q_click, q_view,
        |  ROUND(q_click - q_view, 4) AS diff
        |FROM qc JOIN qv ON qc.p10 = qv.p10 ORDER BY qc.p10""".stripMargin,

    // identical exact raw-sum central moments
    "q_rolling_skew" ->
      s"""WITH $idxCte,
        |w AS (
        |  SELECT event_type, d,
        |    COUNT(*) OVER w14 AS n14,
        |    SUM(y) OVER w14 AS s1,
        |    SUM(y * y) OVER w14 AS s2,
        |    SUM(y * y * y) OVER w14 AS s3
        |  FROM idx
        |  WINDOW w14 AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |f AS (
        |  SELECT event_type, d,
        |    CAST(s2 AS DOUBLE) / 14.0 - (CAST(s1 AS DOUBLE) / 14.0)
        |      * (CAST(s1 AS DOUBLE) / 14.0) AS m2,
        |    CAST(s3 AS DOUBLE) / 14.0
        |      - 3.0 * (CAST(s1 AS DOUBLE) / 14.0)
        |        * (CAST(s2 AS DOUBLE) / 14.0)
        |      + 2.0 * (CAST(s1 AS DOUBLE) / 14.0)
        |        * (CAST(s1 AS DOUBLE) / 14.0)
        |        * (CAST(s1 AS DOUBLE) / 14.0) AS m3
        |  FROM w WHERE n14 = 14)
        |SELECT event_type, d, ROUND(m3 / pow(m2, 1.5), 6) AS skew14
        |FROM f ORDER BY event_type, d""".stripMargin,

    // identical decile bucketing and grouped-grid pair counts
    "q_cindex_lifetime" ->
      """WITH u AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(date_diff('day', MIN(CAST(ts AS DATE)),
        |      MAX(CAST(ts AS DATE))) AS BIGINT) AS lt
        |  FROM events GROUP BY 1),
        |dec AS (
        |  SELECT lt,
        |    CAST(ceil(CAST(row_number() OVER (ORDER BY cnt, user_id)
        |      AS BIGINT) * 10.0 / (COUNT(*) OVER ())) AS BIGINT)
        |      AS score
        |  FROM u),
        |cells AS (
        |  SELECT score, lt, CAST(COUNT(*) AS BIGINT) AS m
        |  FROM dec GROUP BY 1, 2),
        |g AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN a.score < b.score
        |      THEN a.m * b.m ELSE 0 END) AS BIGINT) AS np,
        |    CAST(SUM(CASE WHEN a.score < b.score AND a.lt < b.lt
        |      THEN a.m * b.m ELSE 0 END) AS BIGINT) AS conc,
        |    CAST(SUM(CASE WHEN a.score < b.score AND a.lt = b.lt
        |      THEN a.m * b.m ELSE 0 END) AS BIGINT) AS tied
        |  FROM cells a CROSS JOIN cells b
        |  WHERE a.score < b.score
        |    OR (a.score = b.score AND a.lt <= b.lt))
        |SELECT np AS n_pairs, conc AS concordant, tied AS tied_lt,
        |  ROUND((conc + tied / 2.0) / np, 6) AS c_index
        |FROM g""".stripMargin,

    // identical deci-snapped residuals and normal equations
    "q_breusch_godfrey" ->
      s"""WITH $idxCte,
        |fit AS (
        |  SELECT event_type, n, st, sy, slope,
        |    (sy - slope * st) / n AS icept
        |  FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |          CAST(SUM(i) AS BIGINT) AS st,
        |          CAST(SUM(y) AS BIGINT) AS sy,
        |          (CAST(COUNT(*) AS DOUBLE) * SUM(i * y)
        |            - CAST(SUM(i) AS DOUBLE) * SUM(y))
        |          / (CAST(COUNT(*) AS DOUBLE) * SUM(i * i)
        |            - CAST(SUM(i) AS DOUBLE) * SUM(i)) AS slope
        |        FROM idx GROUP BY 1)),
        |e AS (
        |  SELECT idx.event_type, idx.i,
        |    CAST(ROUND((idx.y - fit.slope * idx.i - fit.icept) / 100)
        |      AS BIGINT) AS e_u
        |  FROM idx JOIN fit ON idx.event_type = fit.event_type),
        |tri AS (
        |  SELECT event_type, e_u AS yv, i AS x1,
        |    lag(e_u) OVER (PARTITION BY event_type ORDER BY i) AS x2
        |  FROM e QUALIFY x2 IS NOT NULL),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(yv) AS BIGINT) AS sy, CAST(SUM(x1) AS BIGINT) AS s1,
        |    CAST(SUM(x2) AS BIGINT) AS s2,
        |    CAST(SUM(yv * yv) AS BIGINT) AS syy,
        |    CAST(SUM(yv * x1) AS BIGINT) AS sy1,
        |    CAST(SUM(yv * x2) AS BIGINT) AS sy2,
        |    CAST(SUM(x1 * x1) AS BIGINT) AS s11,
        |    CAST(SUM(x1 * x2) AS BIGINT) AS s12,
        |    CAST(SUM(x2 * x2) AS BIGINT) AS s22
        |  FROM tri GROUP BY 1),
        |c AS (
        |  SELECT event_type, n,
        |    syy - CAST(sy AS DOUBLE) * sy / n AS cyy,
        |    sy1 - CAST(sy AS DOUBLE) * s1 / n AS cy1,
        |    sy2 - CAST(sy AS DOUBLE) * s2 / n AS cy2,
        |    s11 - CAST(s1 AS DOUBLE) * s1 / n AS c11,
        |    s12 - CAST(s1 AS DOUBLE) * s2 / n AS c12,
        |    s22 - CAST(s2 AS DOUBLE) * s2 / n AS c22
        |  FROM m),
        |f AS (
        |  SELECT event_type, n, cyy, cy1, cy2,
        |    (cy1 * c22 - cy2 * c12) / (c11 * c22 - c12 * c12) AS b1,
        |    (cy2 * c11 - cy1 * c12) / (c11 * c22 - c12 * c12) AS b2
        |  FROM c)
        |SELECT event_type, n, ROUND(b2, 6) AS ar1_coef,
        |  ROUND(n * (b1 * cy1 + b2 * cy2) / cyy, 4) AS bg_lm
        |FROM f ORDER BY event_type""".stripMargin
  )
}
