package graft

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

/** The day-grid keys read the session's grids (queries.DailyGrid), not
  * the events table: once the grids are built, a key's optimized plan
  * holds no relation over events.parquet. A key that re-derives a grid
  * inline from the events shows up here. */
class DailyGridSpec extends AnyFunSuite with SparkFixture {

  /** Keys that derived a day grid inline before it moved to DailyGrid. */
  private val routed = Seq(
    // per-type milli mean
    "q_ar1_fit", "q_hurst", "q_mase_seasonal", "q_ses_forecast",
    "q_kendall_tau", "q_rsi", "q_max_drawdown", "q_volatility",
    "q_hodges_lehmann", "q_var_historical", "q_kupiec_pof",
    "q_somers_d", "q_gk_gamma", "q_hoeffding_d", "q_brunner_munzel",
    "q_theta_forecast", "q_allan_variance", "q_event_study_car",
    "q_adstock", "q_gaps_islands",
    // per-day sums and counts rolled up from the mean grid
    "q_poisson_gof", "q_densify_days", "q_partial_tau", "q_iv_wald",
    "q_mediation_lite", "q_transfer_entropy", "q_p_chart", "q_c_chart",
    "q_u_chart",
    // daily high of the OHLC grid
    "q_gumbel_fit",
    // all-type market series
    "q_pacf", "q_beta_market", "q_information_ratio", "q_updown_capture",
    "q_rolling_beta", "q_rdd_estimate", "q_ransac_lite",
    // centi totals
    "q_jackknife", "q_croston", "q_rolling_mad", "q_rolling_corr",
    "q_wilcoxon_signrank")

  private def tablesRead(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].location.rootPaths.map(_.getName)
    }.flatten

  test("every key routed to a daily grid reads no events relation once the grids are built") {
    // the walk sees an inline events scan, so the check below is not vacuous
    assert(tablesRead(tables.Tables.events(spark, sf).groupBy("event_type").count())
      === Seq("events.parquet"))
    queries.DailyGrid.mean(spark, sf)
    queries.DailyGrid.ohlc(spark, sf)
    queries.DailyGrid.centi(spark, sf)
    val offenders = routed.flatMap { k =>
      val read = tablesRead(SparkEntry.queries(k)(spark, sf))
      if (read.contains("events.parquet")) Some(s"$k reads ${read.mkString(", ")}")
      else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
