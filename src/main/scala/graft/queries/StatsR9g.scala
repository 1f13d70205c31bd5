package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.expr.Registry
import graft.tables.Tables

/** Round-9 wave 7 (SURVEY.md §2 B.10b): distribution-free trend and
  * homogeneity tests, rater agreement, corpus diversity, and market-
  * basket rules — Cox–Stuart (paired half-series signs), Buishand
  * range (prefix deviations with the n denominator cleared),
  * Jonckheere–Terpstra (doubled Mann–Whitney counts over the bounded
  * day² pair grid), ICC(1,1) (one-way ANOVA mean squares from exact
  * sums), distinct-1/distinct-2 token diversity, and association
  * rules with confidence/lift on per-user event-type sets. Exact
  * integers to the final scalar; identical IEEE chains on bounded
  * output rows only.
  */
object StatsR9g {

  import DailyGrid.{dmCte, wo, wp}

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Cox–Stuart trend test per type: pair y_i with y_{i+h} where
    // h = (n+1) div 2 (odd n drops the middle), count strict rises /
    // falls (ties excluded), z = (2·plus − n')/√n' — the day-grid
    // self-join matches pairs of DAYS, one row per pair.
    "q_cox_stuart" -> ((s, d) => {
      val idx = DailyGrid.mean(s, d)
        .withColumn("n", count(lit(1)).over(wp))
        .withColumn("h", expr("(n + 1) div 2"))
        .select(col("event_type"), col("i"), col("n"), col("h"), col("y"))
        .localCheckpoint(eager = true) // bounded day grid, 2 legs
      val b = idx.select(col("event_type").as("et2"), col("i").as("j"),
        col("y").as("y2"))
      idx.filter(col("i") <= expr("n div 2"))
        .join(b, col("et2") === col("event_type")
          && col("j") === col("i") + col("h"))
        .groupBy("event_type")
        .agg(sum(when(col("y2") > col("y"), 1L).otherwise(0L)).as("plus"),
          sum(when(col("y2") < col("y"), 1L).otherwise(0L)).as("minus"))
        .withColumn("n_pairs", col("plus") + col("minus"))
        .filter(col("n_pairs") > 0)
        .select(col("event_type"), col("n_pairs"), col("plus"),
          col("minus"),
          round((col("plus") * 2 - col("n_pairs"))
            / sqrt(col("n_pairs").cast("double")), 4).as("z"))
        .orderBy("event_type")
    }),

    // Buishand range test per type: partial sums of deviations with
    // the n denominator cleared — nS_t = n·P_t − t·T stays an exact
    // long for every prefix t (including S_n = 0); the rescaled range
    // R/(s·√n) is ONE identical double chain from four exact sums.
    "q_buishand" -> ((s, d) => {
      DailyGrid.mean(s, d)
        .withColumn("n", count(lit(1)).over(wp))
        .withColumn("t_sum", sum("y").over(wp))
        .withColumn("p", sum("y").over(
          wo.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("ns", col("n") * col("p") - col("i") * col("t_sum"))
        .groupBy("event_type")
        .agg(max("n").as("n"), max("ns").as("mx"), min("ns").as("mn"),
          max("t_sum").as("sy"),
          sum(col("y") * col("y")).as("syy"))
        .filter(col("n") > 1
          && col("n") * col("syy") > col("sy") * col("sy"))
        .select(col("event_type"), col("n").as("n_days"),
          (col("mx") - col("mn")).as("range_n"),
          round((col("mx") - col("mn")).cast("double") / col("n")
            / sqrt((col("n") * col("syy") - col("sy") * col("sy"))
              .cast("double") / (col("n") * (col("n") - lit(1L))))
            / sqrt(col("n").cast("double")), 6).as("rb_stat"))
        .orderBy("event_type")
    }),

    // Jonckheere–Terpstra over the alphabetically ordered types:
    // J doubled to stay integer (J2 = Σ 2·[x<y] + [x=y] over every
    // cross-group day pair, a bounded day² grid), mean and variance
    // from the exact group-size sums, z in one identical chain.
    "q_jonckheere" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d).select(col("event_type"), col("y"))
      val j2 = dm.join(dm.select(col("event_type").as("et2"),
          col("y").as("y2")), col("event_type") < col("et2"))
        .agg(sum(when(col("y") < col("y2"), 2L)
          .when(col("y") === col("y2"), 1L).otherwise(0L)).as("j2"))
      val sizes = dm.groupBy("event_type").agg(count(lit(1)).as("nk"))
        .agg(sum("nk").as("n_total"), sum(col("nk") * col("nk")).as("sk2"),
          sum(col("nk") * col("nk") * (col("nk") * 2 + 3)).as("sk23"))
      j2.crossJoin(sizes)
        .select(col("j2").as("j2_stat"), col("n_total"),
          round((col("j2") / 2.0 - (col("n_total") * col("n_total")
              - col("sk2")) / 4.0)
            / sqrt((col("n_total") * col("n_total")
              * (col("n_total") * 2 + 3) - col("sk23"))
              .cast("double") / 72.0), 4).as("z"))
    }),

    // ICC(1,1) with days as subjects and the k event types as raters
    // (all-types days only): MSB/MSW from the exact longs Σt², ΣΣy²,
    // T — the two mean squares and the ratio are ONE identical double
    // chain on the single output row.
    "q_icc" -> ((s, d) => {
      val dm = DailyGrid.mean(s, d).select(col("event_type"), col("d"), col("y"))
      val k = dm.select(countDistinct("event_type")).first().getLong(0)
      val full = dm.groupBy("d").agg(count(lit(1)).as("nt"),
          sum("y").as("t"), sum(col("y") * col("y")).as("yy"))
        .filter(col("nt") === k)
      full.agg(count(lit(1)).as("n"), sum("t").as("tt"),
          sum(col("t") * col("t")).as("st2"), sum("yy").as("syy"))
        .select(lit(k).as("k_raters"), col("n").as("n_days"),
          round({
            val msb = (col("st2").cast("double") / lit(k.toDouble)
              - col("tt").cast("double") * col("tt")
                / (col("n") * lit(k.toDouble))) /
              (col("n") - lit(1L))
            val msw = (col("syy").cast("double")
              - col("st2").cast("double") / lit(k.toDouble)) /
              (col("n") * lit(k - 1L))
            (msb - msw) / (msb + lit((k - 1).toDouble) * msw)
          }, 6).as("icc1"))
    }),

    // Corpus diversity per source: distinct-1/distinct-2 = unique /
    // total tokens (bigrams) — two partial-agg legs over one token
    // explode and one codegen'd ngrams explode, joined on the bounded
    // source key.
    "q_distinct_n" -> ((s, d) => {
      Registry.ensure(s)
      val docs = Tables.documents(s, d)
        .select(col("source"), split(col("text"), " ").as("toks"))
      val uni = docs.select(col("source"), explode(col("toks")).as("t"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct("t").as("u_tokens"))
      val bi = docs.select(col("source"), expr("ngrams(toks, 2)"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_bigrams"),
          countDistinct("ngram").as("u_bigrams"))
      uni.join(bi, "source")
        .select(col("source"), col("n_tokens"),
          round(col("u_tokens").cast("double") / col("n_tokens"), 6)
            .as("distinct_1"),
          col("n_bigrams"),
          round(col("u_bigrams").cast("double") / col("n_bigrams"), 6)
            .as("distinct_2"))
        .orderBy("source")
    }),

    // Association rules on per-user event-type sets: for each ordered
    // pair a→b, support/confidence/lift from exact distinct-grid
    // counts. Types are bounded (≤ a handful), so the output is
    // bounded regardless of user count; the grid self-join shuffles
    // on user_id once.
    "q_assoc_rules" -> ((s, d) => {
      val grid = Tables.events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
        .localCheckpoint(eager = true) // 3 legs
      val nUsers = grid.select(countDistinct("user_id").as("n_users"))
      val item = grid.groupBy("event_type").agg(count(lit(1)).as("na"))
      val both = grid.join(grid.select(col("user_id"),
          col("event_type").as("et2")), "user_id")
        .filter(col("event_type") =!= col("et2"))
        .groupBy(col("event_type"), col("et2"))
        .agg(count(lit(1)).as("nab"))
      both
        .join(broadcast(item), "event_type")
        .join(broadcast(item.select(col("event_type").as("et2"),
          col("na").as("nb"))), "et2")
        .crossJoin(broadcast(nUsers))
        .select(col("event_type").as("antecedent"),
          col("et2").as("consequent"), col("nab"),
          round(col("nab").cast("double") / col("n_users"), 6)
            .as("support"),
          round(col("nab").cast("double") / col("na"), 6)
            .as("confidence"),
          round(col("nab").cast("double") * col("n_users")
            / (col("na").cast("double") * col("nb")), 4).as("lift"))
        .orderBy("antecedent", "consequent")
    })
  )

  val oracle: Map[String, String] = Map(
    // identical half-split pairing and sign z
    "q_cox_stuart" ->
      s"""WITH $dmCte,
        |idx AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER wd AS BIGINT) AS i,
        |    CAST(COUNT(*) OVER wp AS BIGINT) AS n
        |  FROM dm
        |  WINDOW wd AS (PARTITION BY event_type ORDER BY d),
        |    wp AS (PARTITION BY event_type)),
        |pr AS (
        |  SELECT a.event_type,
        |    CAST(SUM(CASE WHEN b.y > a.y THEN 1 ELSE 0 END) AS BIGINT)
        |      AS plus,
        |    CAST(SUM(CASE WHEN b.y < a.y THEN 1 ELSE 0 END) AS BIGINT)
        |      AS minus
        |  FROM idx a JOIN idx b ON b.event_type = a.event_type
        |    AND b.i = a.i + (a.n + 1) // 2
        |  WHERE a.i <= a.n // 2
        |  GROUP BY 1)
        |SELECT event_type, plus + minus AS n_pairs, plus, minus,
        |  ROUND((plus * 2 - (plus + minus))
        |    / sqrt(CAST(plus + minus AS DOUBLE)), 4) AS z
        |FROM pr WHERE plus + minus > 0 ORDER BY event_type""".stripMargin,

    // identical cleared prefix deviations and rescaled range
    "q_buishand" ->
      s"""WITH $dmCte,
        |idx AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER wd AS BIGINT) AS i,
        |    CAST(COUNT(*) OVER wp AS BIGINT) AS n,
        |    CAST(SUM(y) OVER wp AS BIGINT) AS t_sum,
        |    CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS p
        |  FROM dm
        |  WINDOW wd AS (PARTITION BY event_type ORDER BY d),
        |    wp AS (PARTITION BY event_type)),
        |ag AS (
        |  SELECT event_type, MAX(n) AS n,
        |    MAX(n * p - i * t_sum) AS mx, MIN(n * p - i * t_sum) AS mn,
        |    MAX(t_sum) AS sy, CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM idx GROUP BY 1)
        |SELECT event_type, n AS n_days,
        |  CAST(mx - mn AS BIGINT) AS range_n,
        |  ROUND(CAST(mx - mn AS DOUBLE) / n
        |    / sqrt(CAST(n * syy - sy * sy AS DOUBLE) / (n * (n - 1)))
        |    / sqrt(CAST(n AS DOUBLE)), 6) AS rb_stat
        |FROM ag WHERE n > 1 AND n * syy > sy * sy
        |ORDER BY event_type""".stripMargin,

    // identical doubled pair counts and moment z
    "q_jonckheere" ->
      s"""WITH $dmCte,
        |jj AS (
        |  SELECT CAST(SUM(CASE WHEN a.y < b.y THEN 2
        |    WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS j2
        |  FROM dm a JOIN dm b ON a.event_type < b.event_type),
        |sz AS (
        |  SELECT CAST(SUM(nk) AS BIGINT) AS n_total,
        |    CAST(SUM(nk * nk) AS BIGINT) AS sk2,
        |    CAST(SUM(nk * nk * (nk * 2 + 3)) AS BIGINT) AS sk23
        |  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS nk
        |        FROM dm GROUP BY event_type))
        |SELECT jj.j2 AS j2_stat, sz.n_total,
        |  ROUND((jj.j2 / 2.0
        |      - (sz.n_total * sz.n_total - sz.sk2) / 4.0)
        |    / sqrt(CAST(sz.n_total * sz.n_total * (sz.n_total * 2 + 3)
        |      - sz.sk23 AS DOUBLE) / 72.0), 4) AS z
        |FROM jj, sz""".stripMargin,

    // identical exact-sum mean squares and ratio
    "q_icc" ->
      s"""WITH $dmCte,
        |kk AS (SELECT COUNT(DISTINCT event_type) AS k FROM dm),
        |fl AS (
        |  SELECT d, CAST(COUNT(*) AS BIGINT) AS nt,
        |    CAST(SUM(y) AS BIGINT) AS t,
        |    CAST(SUM(y * y) AS BIGINT) AS yy
        |  FROM dm GROUP BY 1),
        |full_d AS (SELECT fl.* FROM fl, kk WHERE fl.nt = kk.k),
        |ag AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(t) AS BIGINT) AS tt,
        |    CAST(SUM(t * t) AS BIGINT) AS st2,
        |    CAST(SUM(yy) AS BIGINT) AS syy
        |  FROM full_d)
        |SELECT CAST(kk.k AS BIGINT) AS k_raters, ag.n AS n_days,
        |  ROUND((
        |      (CAST(ag.st2 AS DOUBLE) / kk.k
        |        - CAST(ag.tt AS DOUBLE) * ag.tt / (ag.n * CAST(kk.k AS DOUBLE)))
        |        / (ag.n - 1)
        |      - (CAST(ag.syy AS DOUBLE) - CAST(ag.st2 AS DOUBLE) / kk.k)
        |        / (ag.n * (kk.k - 1))
        |    ) / (
        |      (CAST(ag.st2 AS DOUBLE) / kk.k
        |        - CAST(ag.tt AS DOUBLE) * ag.tt / (ag.n * CAST(kk.k AS DOUBLE)))
        |        / (ag.n - 1)
        |      + (kk.k - 1.0)
        |        * ((CAST(ag.syy AS DOUBLE) - CAST(ag.st2 AS DOUBLE) / kk.k)
        |          / (ag.n * (kk.k - 1)))
        |    ), 6) AS icc1
        |FROM ag, kk""".stripMargin,

    // identical token/bigram legs (the q_text_ngrams list pattern)
    "q_distinct_n" ->
      """WITH uni AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(DISTINCT t) AS BIGINT) AS u_tokens
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS t
        |        FROM documents)
        |  GROUP BY 1),
        |bi AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(COUNT(DISTINCT g) AS BIGINT) AS u_bigrams
        |  FROM (SELECT source,
        |          unnest(list_transform(generate_series(1, len(l) - 1),
        |            i -> l[i] || ' ' || l[i + 1])) AS g
        |        FROM (SELECT source, string_split(text, ' ') AS l
        |              FROM documents))
        |  GROUP BY 1)
        |SELECT uni.source, n_tokens,
        |  ROUND(CAST(u_tokens AS DOUBLE) / n_tokens, 6) AS distinct_1,
        |  n_bigrams,
        |  ROUND(CAST(u_bigrams AS DOUBLE) / n_bigrams, 6) AS distinct_2
        |FROM uni JOIN bi ON uni.source = bi.source
        |ORDER BY uni.source""".stripMargin,

    // identical distinct-grid counts, confidence and lift
    "q_assoc_rules" ->
      """WITH grid AS (
        |  SELECT DISTINCT user_id, event_type FROM events),
        |nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |       FROM grid),
        |it AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS na
        |       FROM grid GROUP BY 1),
        |ab AS (
        |  SELECT a.event_type, b.event_type AS et2,
        |    CAST(COUNT(*) AS BIGINT) AS nab
        |  FROM grid a JOIN grid b ON b.user_id = a.user_id
        |    AND b.event_type <> a.event_type
        |  GROUP BY 1, 2)
        |SELECT ab.event_type AS antecedent, ab.et2 AS consequent, ab.nab,
        |  ROUND(CAST(ab.nab AS DOUBLE) / nu.n_users, 6) AS support,
        |  ROUND(CAST(ab.nab AS DOUBLE) / ia.na, 6) AS confidence,
        |  ROUND(CAST(ab.nab AS DOUBLE) * nu.n_users
        |    / (CAST(ia.na AS DOUBLE) * ib.na), 4) AS lift
        |FROM ab
        |JOIN it ia ON ia.event_type = ab.event_type
        |JOIN it ib ON ib.event_type = ab.et2
        |CROSS JOIN nu
        |ORDER BY antecedent, consequent""".stripMargin
  )
}
