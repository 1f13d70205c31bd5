package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Tables

/** Round-10 wave 6 (SURVEY.md §2 B.10c sketches): a fully-ORACLED
  * HyperLogLog — unlike q_hll_sketch (Spark's DataSketches binding,
  * engine-specific and OMIT), this one pins the register math itself
  * cross-engine: Knuth-hashed ids, m=64 buckets, ρ from exact bit
  * length (bin() string length — no floating log2), register
  * max-merge, and the estimator with its small-range linear-counting
  * branch. The registers are the MERGEABLE distinct state a 100 TB
  * pipeline ships between shards; s_stream_hll (StreamState) is the
  * order-independent streaming twin over the identical registers.
  */
object StatsR10f {

  /** Shared HLL register derivation + estimate, parameterized by the
    * events source so the streaming twin reuses the read-back math.
    * m=64 (p=6), hash = knuth mod 2^63, bucket = low 6 bits, ρ =
    * 58 − bitlen(rest) + 1 over the remaining 57 bits (bin() length
    * is exact integer bit math on both engines), α_64 = 0.709.
    * Σ2^(58−M) accumulates in DECIMAL (63·2^58 overflows BIGINT). */
  private[graft] def hllEstimate(regs: DataFrame): DataFrame = {
    // regs: (event_type, b, m_reg) with ALL 64 buckets present
    regs.groupBy("event_type")
      .agg(count(lit(1)).as("nb"),
        sum(when(col("m_reg") === 0, 1L).otherwise(0L)).as("v0"),
        sum(expr("CAST(shiftleft(CAST(1 AS BIGINT)," +
          " CAST(58 - m_reg AS INT)) AS DECIMAL(38,0))")).as("spw"))
      .withColumn("e_raw",
        expr("0.709D * 4096D * POWER(2D, 58D)") / col("spw").cast("double"))
      .withColumn("est",
        when(col("e_raw") <= 160.0 && col("v0") > 0,
          lit(64.0) * log(lit(64.0) / col("v0")))
          .otherwise(col("e_raw")))
      .select(col("event_type"), (lit(64L) - col("v0")).as("nonzero_regs"),
        round(col("est"), 4).as("hll_estimate"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // HLL distinct-user estimate per type with a FULL oracle: the
    // register table is exact integer state (the mergeable sketch),
    // the estimate one double chain from exact longs, and the
    // linear-counting branch mirrors bit for bit.
    "q_hll_exact" -> ((s, d) => {
      val grid = Tables.events(s, d).select("event_type").distinct()
        .crossJoin(s.range(0, 64).select(col("id").as("b")))
      val regs = Tables.events(s, d)
        .select(col("event_type"),
          expr("CAST(pmod(CAST(user_id AS DECIMAL(38,0)) * 2654435761," +
            " 9223372036854775808) AS BIGINT)").as("h"))
        .withColumn("b", col("h") % 64)
        .withColumn("rest", expr("h DIV 64"))
        .withColumn("rho", when(col("rest") === 0, lit(58L))
          .otherwise(lit(58L) - length(expr("bin(rest)"))))
        .groupBy("event_type", "b").agg(max("rho").as("mr"))
      val full = grid.join(regs, Seq("event_type", "b"), "left")
        .select(col("event_type"), col("b"),
          coalesce(col("mr"), lit(0L)).as("m_reg"))
      val tru = Tables.events(s, d).groupBy("event_type")
        .agg(countDistinct("user_id").as("true_distinct"))
      hllEstimate(full)
        .join(tru, "event_type")
        .select(col("event_type"), col("true_distinct"),
          col("nonzero_regs"), col("hll_estimate"),
          round(abs(col("hll_estimate") - col("true_distinct"))
            / col("true_distinct"), 6).as("rel_err"))
        .orderBy("event_type")
    })
  )

  /** Shared oracle text for the register + estimate math (the
    * streaming twin composes it verbatim). */
  private[graft] val hllOracle: String =
    """WITH h AS (
      |  SELECT event_type,
      |    ((CAST(user_id AS HUGEINT) * 2654435761)
      |      % 9223372036854775808) AS h
      |  FROM events),
      |rr AS (
      |  SELECT event_type, h % 64 AS b, h // 64 AS rest FROM h),
      |rho AS (
      |  SELECT event_type, b,
      |    CASE WHEN rest = 0 THEN 58
      |      ELSE 58 - length(bin(CAST(rest AS BIGINT))) END AS rho
      |  FROM rr),
      |regs0 AS (
      |  SELECT event_type, b, MAX(rho) AS mr FROM rho GROUP BY 1, 2),
      |grid AS (
      |  SELECT DISTINCT e.event_type, g.b
      |  FROM events e, (SELECT UNNEST(generate_series(0, 63)) AS b) g),
      |regs AS (
      |  SELECT grid.event_type, grid.b,
      |    COALESCE(regs0.mr, 0) AS m_reg
      |  FROM grid LEFT JOIN regs0
      |    ON grid.event_type = regs0.event_type AND grid.b = regs0.b),
      |ag AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN m_reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS v0,
      |    SUM(CAST((CAST(1 AS BIGINT) << CAST(58 - m_reg AS INT))
      |      AS HUGEINT)) AS spw
      |  FROM regs GROUP BY 1),
      |est AS (
      |  SELECT event_type, 64 - v0 AS nonzero_regs,
      |    CASE WHEN (0.709 * 4096 * POWER(2, 58))
      |        / CAST(spw AS DOUBLE) <= 160.0 AND v0 > 0
      |      THEN 64.0 * LN(64.0 / v0)
      |      ELSE (0.709 * 4096 * POWER(2, 58)) / CAST(spw AS DOUBLE)
      |      END AS e
      |  FROM ag)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_hll_exact" ->
      s"""$hllOracle,
        |tru AS (
        |  SELECT event_type,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS true_distinct
        |  FROM events GROUP BY 1)
        |SELECT est.event_type, tru.true_distinct,
        |  CAST(est.nonzero_regs AS BIGINT) AS nonzero_regs,
        |  ROUND(est.e, 4) AS hll_estimate,
        |  ROUND(ABS(ROUND(est.e, 4) - tru.true_distinct)
        |    / tru.true_distinct, 6) AS rel_err
        |FROM est JOIN tru ON est.event_type = tru.event_type
        |ORDER BY est.event_type""".stripMargin
  )
}
