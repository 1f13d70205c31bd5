package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.tables.Tables
import graft.util.SessionMemo

/** The day grids the event-statistics keys share, and the oracle CTE
  * text that mirrors each one. Every grid is one partial aggregation
  * over the events table down to |types|·|days| rows (or |days| rows
  * for the all-type market series), built once per session through
  * [[SessionMemo]]; every window after it runs on that bounded grid.
  * All grid values are exact longs and every window order is total
  * per partition, so a memoized grid is byte-identical to a fresh
  * derivation.
  *
  * Grids:
  *  - [[mean]]: per (event_type, d) the milli sum `s_m = Σ floor(v·1e3)`,
  *    the event count `cnt`, the milli mean `y = s_m div cnt` and the
  *    1-based day index `i`;
  *  - [[ret]]: the µ-snapped log return `r_u = round(ln(y/y₋₁)·1e6)`
  *    of `y` per type (the first day has none);
  *  - [[market]], [[marketRet]]: the all-type milli mean per day,
  *    `Σ s_m div Σ cnt` with its day index `i`, and its µ-snapped
  *    return `rm_u`. Rolled up from [[mean]]: the floor is per event,
  *    so the per-type partial sums regroup losslessly;
  *  - [[ohlc]]: the centi open/high/low/close, event count and day
  *    index `i` per (event_type, d); open/close are the values of the
  *    (ts, event_id) min/max row;
  *  - [[centi]]: the centi total `x = Σ round(v·100)` per
  *    (event_type, d) with its 1-based day index `i`.
  */
object DailyGrid {

  /** Per-type day order, the window every grid series runs on. */
  def wo: WindowSpec = Window.partitionBy("event_type").orderBy("d")

  /** Per-type whole-partition window. */
  def wp: WindowSpec = Window.partitionBy("event_type")

  def mean(s: SparkSession, d: String): DataFrame =
    SessionMemo.of(s, s"dailyMean:$d") {
      Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(floor(col("value") * 1e3).cast("long")).as("s_m"),
          count(lit(1)).as("cnt"))
        .withColumn("y", expr("s_m div cnt"))
        .withColumn("i", row_number().over(wo).cast("long"))
    }

  def ret(s: SparkSession, d: String): DataFrame =
    SessionMemo.of(s, s"dailyRet:$d") {
      mean(s, d)
        .withColumn("py", lag("y", 1).over(wo))
        .filter(col("py").isNotNull)
        .select(col("event_type"), col("d"),
          round(log(col("y").cast("double") / col("py")) * 1e6)
            .cast("long").as("r_u"))
    }

  def market(s: SparkSession, d: String): DataFrame =
    SessionMemo.of(s, s"dailyMarket:$d") {
      mean(s, d)
        .groupBy("d")
        .agg(sum("s_m").as("s_m"), sum("cnt").as("cnt"))
        .withColumn("y", expr("s_m div cnt"))
        // bounded grain: one row per day
        .withColumn("i", row_number().over(Window.orderBy("d")).cast("long"))
    }

  def marketRet(s: SparkSession, d: String): DataFrame =
    SessionMemo.of(s, s"marketRet:$d") {
      market(s, d)
        // bounded grain: one row per day
        .withColumn("py", lag("y", 1).over(Window.orderBy("d")))
        .filter(col("py").isNotNull)
        .select(col("d"),
          round(log(col("y").cast("double") / col("py")) * 1e6)
            .cast("long").as("rm_u"))
    }

  def ohlc(s: SparkSession, d: String): DataFrame =
    SessionMemo.of(s, s"dailyOhlc:$d") {
      val at = struct(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("d"),
          round(col("value") * 100).cast("long").as("v_c"),
          col("ts"), col("event_id"))
        .groupBy("event_type", "d")
        .agg(max("v_c").as("h"), min("v_c").as("l"),
          max_by(col("v_c"), at).as("c"),
          count(lit(1)).as("vol"),
          min_by(col("v_c"), at).as("o"))
        .withColumn("i", row_number().over(wo).cast("long"))
    }

  def centi(s: SparkSession, d: String): DataFrame =
    SessionMemo.of(s, s"dailyCenti:$d") {
      Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(round(col("value") * 100).cast("long")).as("x"))
        .withColumn("i", row_number().over(wo).cast("long"))
    }

  /** Daily centi total of one type, named `alias` (the paired-series
    * grain the click/view diagnostics share). */
  def centiOf(s: SparkSession, d: String, t: String, alias: String): DataFrame =
    centi(s, d).filter(col("event_type") === t)
      .select(col("d"), col("x").as(alias))

  // ---- oracle side: the DuckDB text of each grid ----

  /** [[mean]]'s `y` as CTE `dm`. */
  val dmCte: String =
    """dm AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) // COUNT(*)
      |      AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2)""".stripMargin

  /** `dm` plus [[ret]] as CTE `ret`. */
  val retCte: String =
    s"""$dmCte,
      |ret AS (
      |  SELECT event_type, d,
      |    CAST(ROUND(ln(CAST(y AS DOUBLE) / py) * 1e6) AS BIGINT) AS r_u
      |  FROM (SELECT event_type, d, y,
      |          lag(y) OVER (PARTITION BY event_type ORDER BY d) AS py
      |        FROM dm)
      |  WHERE py IS NOT NULL)""".stripMargin

  /** The market series `mm` (`my`) and [[marketRet]] as CTE `mret`. */
  val mktCte: String =
    """mm AS (
      |  SELECT CAST(ts AS DATE) AS d,
      |    CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) // COUNT(*)
      |      AS BIGINT) AS my
      |  FROM events GROUP BY 1),
      |mret AS (
      |  SELECT d,
      |    CAST(ROUND(ln(CAST(my AS DOUBLE) / pmy) * 1e6) AS BIGINT)
      |      AS rm_u
      |  FROM (SELECT d, my, lag(my) OVER (ORDER BY d) AS pmy FROM mm)
      |  WHERE pmy IS NOT NULL)""".stripMargin

  /** [[ohlc]] without the open as CTE `daily`: row_number picks the
    * identical (ts, event_id)-max close row max_by selects. */
  val dailyCte: String =
    """base AS (
      |  SELECT event_type, CAST(ts AS DATE) AS d,
      |    CAST(ROUND(value * 100) AS BIGINT) AS v_c, ts, event_id
      |  FROM events),
      |agg AS (
      |  SELECT event_type, d, MAX(v_c) AS h, MIN(v_c) AS l,
      |    CAST(COUNT(*) AS BIGINT) AS vol
      |  FROM base GROUP BY 1, 2),
      |cl AS (
      |  SELECT event_type, d, v_c AS c FROM (
      |    SELECT event_type, d, v_c, row_number() OVER (
      |      PARTITION BY event_type, d ORDER BY ts DESC, event_id DESC)
      |      AS rn
      |    FROM base) WHERE rn = 1),
      |daily AS (
      |  SELECT agg.event_type, agg.d, h, l, c, vol
      |  FROM agg JOIN cl ON agg.event_type = cl.event_type
      |    AND agg.d = cl.d)""".stripMargin
}
