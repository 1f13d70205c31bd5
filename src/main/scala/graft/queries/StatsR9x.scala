package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-9 wave 24 (SURVEY.md §2 B.10b): curve geometry and series
  * memory — Kneedle-style knee point on the vocab-growth curve (the
  * chord-distance cross product stays an exact long), bigram
  * saturation per corpus decile, the Kaplan–Meier median lifetime
  * (first t with S(t) ≤ 0.5 over the existing KM leg), MTBF of
  * error events (exact µs gaps, med2 median), integrated
  * autocorrelation time / effective sample size (per-lag cleared
  * correlations snapped to 1e9), and running-record statistics
  * against the exact harmonic expectation. Exact to the last
  * division.
  */
object StatsR9x {

  import DailyGrid.{dmCte, wo}

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Knee point of the q_vocab_growth curve (Kneedle-lite): the
    // point maximizing the |cross product| distance to the
    // first→last chord — exact longs end to end (ties → smallest
    // bucket, stated).
    "q_knee_point" -> ((s, d) => {
      val curve = Training.queries("q_vocab_growth")(s, d)
        .select(col("bucket").cast("long").as("b"),
          col("cum_tokens").as("x"), col("vocab_size").as("y"))
        .localCheckpoint(eager = true) // ends + points legs
      val ends = curve.agg(
        min(struct(col("b"), col("x"), col("y"))).as("f"),
        max(struct(col("b"), col("x"), col("y"))).as("l"))
        .select(col("f.x").as("x1"), col("f.y").as("y1"),
          col("l.x").as("x2"), col("l.y").as("y2"))
      val scored = curve.crossJoin(broadcast(ends))
        .withColumn("cross", abs(
          (col("x2") - col("x1")) * (col("y1") - col("y"))
            - (col("x1") - col("x")) * (col("y2") - col("y1"))))
      val mx = scored.agg(max("cross").as("m"))
      scored.crossJoin(broadcast(mx))
        .filter(col("cross") === col("m"))
        .agg(min("b").as("knee_bucket"))
        .join(scored.select(col("b").as("knee_bucket"), col("x"),
          col("y")), "knee_bucket")
        .select(col("knee_bucket"), col("x").as("cum_tokens"),
          col("y").as("vocab_size"))
    }),

    // Bigram saturation per corpus decile (the q_vocab_growth shape
    // on bigrams): cumulative new-bigram share — when the corpus
    // stops teaching the tokenizer anything new.
    "q_bigram_saturation" -> ((s, d) => {
      graft.expr.Registry.ensure(s)
      val docs = Tables.documents(s, d)
      val mx = docs.agg((max("doc_id") + 1).as("mxd"))
      val firstSeen = docs
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), expr("ngrams(toks, 2)"))
        .groupBy("ngram").agg(min("doc_id").as("first_doc"))
      val newB = firstSeen.crossJoin(broadcast(mx))
        .groupBy(expr("(first_doc * 10) div mxd").cast("int")
          .as("bucket"))
        .agg(count(lit(1)).as("new_bigrams"))
      val totB = docs.crossJoin(broadcast(mx))
        .select(expr("(doc_id * 10) div mxd").cast("int").as("bucket"),
          (size(split(col("text"), " ")) - 1).cast("long").as("nb"))
        .groupBy("bucket")
        .agg(sum(when(col("nb") > 0, col("nb")).otherwise(0L))
          .as("n_bigrams"))
      // bounded grain: fixed 10-bucket rollup
      val w = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
      totB.join(newB, Seq("bucket"), "left")
        .na.fill(0L, Seq("new_bigrams"))
        .select(col("bucket").cast("long").as("bucket"),
          sum("n_bigrams").over(w).as("cum_bigrams"),
          sum("new_bigrams").over(w).as("vocab_bigrams"))
        .withColumn("saturation", round(lit(1.0)
          - col("vocab_bigrams").cast("double") / col("cum_bigrams"),
          6))
        .orderBy("bucket")
    }),

    // Kaplan–Meier median lifetime: the first duration with
    // S(t) ≤ 0.5 over the existing q_survival_km leg (plus the
    // curve's final survival) — the one-number growth answer.
    "q_km_median" -> ((s, d) => {
      val km = EventsQ.queries("q_survival_km")(s, d)
        .localCheckpoint(eager = true) // 2 legs
      val med = km.filter(col("surv") <= 0.5)
        .agg(min("t_days").as("median_days"))
      val last = km.orderBy(col("t_days").desc).limit(1)
        .select(col("surv").as("final_surv"))
      km.agg(count(lit(1)).as("n_event_times"))
        .crossJoin(med).crossJoin(last)
    }),

    // MTBF of 'error' events per user rolled up globally: exact µs
    // gaps between consecutive errors per user, med2 median and
    // exact-sum mean in seconds.
    "q_mtbf_errors" -> ((s, d) => {
      val wu = Window.partitionBy("user_id").orderBy("us", "event_id")
      val gaps = Tables.events(s, d)
        .filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("pus", lag("us", 1).over(wu))
        .filter(col("pus").isNotNull)
        .select((col("us") - col("pus")).as("g"), col("user_id"),
          col("event_id"))
      // gap-grain global rank → range-partitioned; n = max rank off
      // the cheap checkpointed rank table (r10 VERDICT task 4)
      val ranked = graft.operators.PrefixSum.rank(gaps,
        Seq(col("g"), col("user_id"), col("event_id")), "rn")
      ranked
        .crossJoin(broadcast(ranked.agg(max("rn").as("n"))))
        .withColumn("p1", expr("(n + 1) div 2"))
        .withColumn("p2", expr("n div 2 + 1"))
        .agg(max("n").as("n_gaps"), sum("g").as("sg"),
          (sum(when(col("rn") === col("p1"), col("g")).otherwise(0L))
            + sum(when(col("rn") === col("p2"), col("g")).otherwise(0L)))
            .as("med2"))
        .select(col("n_gaps"),
          round(col("med2") / 2e6, 2).as("median_mtbf_sec"),
          round(col("sg").cast("double") / col("n_gaps") / 1e6, 2)
            .as("mean_mtbf_sec"))
    }),

    // Integrated autocorrelation time τ = 1 + 2Σ_{k≤10} ρ_k and the
    // effective sample size n/τ: per-lag correlations from cleared
    // sums over the FULL-series moments (stated convention: global
    // mean/variance, lag products over the overlap), each ρ snapped
    // to 1e9 before the exact sum.
    "q_act_integrated" -> ((s, d) => {
      import s.implicits._
      val base = DailyGrid.mean(s, d)
        .select(col("event_type"), col("i"), col("y"))
      val mom = base.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("y").as("sy"),
          sum(col("y") * col("y")).as("syy"))
      val lags = (1L to 10L).toDF("k")
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
        // ρ_k = (m·Σxy − Σa·Σb) / (m/n · (n·Σy² − (Σy)²)) — the
        // global-variance normalization, snapped to 1e9
        .select(col("event_type"),
          round((col("m") * col("sxy") - col("sa") * col("sb"))
            .cast("double") * col("n")
            / (col("m").cast("double")
              * (col("n") * col("syy") - col("sy") * col("sy")))
            * 1e9).cast("long").as("rho_u"))
      rho.groupBy("event_type")
        .agg(count(lit(1)).as("n_lags"), sum("rho_u").as("sr"))
        .join(mom.select(col("event_type"), col("n")), "event_type")
        .select(col("event_type"), col("n").as("n_days"),
          round(lit(1.0) + lit(2.0) * col("sr") / 1e9, 4).as("tau_int"),
          round(col("n") / (lit(1.0) + lit(2.0) * col("sr") / 1e9), 2)
            .as("ess"))
        .orderBy("event_type")
    }),

    // Running-record statistics: count of new maxima in day order vs
    // the exact harmonic expectation H_n = Σ1/k (per-term 1e12
    // snap, exact sum) — how trendy vs exchangeable the series is.
    "q_record_stats" -> ((s, d) => {
      val recs = DailyGrid.mean(s, d)
        .withColumn("pm", max("y").over(
          wo.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("rec", when(col("pm").isNull
          || col("y") > col("pm"), 1L).otherwise(0L))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("rec").as("n_records"))
      val harm = DailyGrid.mean(s, d)
        .select(col("event_type"),
          round(lit(1e12) / col("i")).cast("long").as("h_u"))
        .groupBy("event_type").agg(sum("h_u").as("sh"))
      recs.join(harm, "event_type")
        .select(col("event_type"), col("n").as("n_days"),
          col("n_records"),
          round(col("sh") / 1e12, 4).as("expected_records"),
          round(col("n_records").cast("double")
            / (col("sh") / 1e12), 4).as("record_ratio"))
        .orderBy("event_type")
    })
  )

  val oracle: Map[String, String] = Map(
    // curve leg verbatim; identical integer cross products
    "q_knee_point" ->
      s"""WITH curve AS (${Training.oracle("q_vocab_growth")}),
        |c AS (
        |  SELECT CAST(bucket AS BIGINT) AS b, cum_tokens AS x,
        |    vocab_size AS y
        |  FROM curve),
        |en AS (
        |  SELECT
        |    (SELECT x FROM c ORDER BY b LIMIT 1) AS x1,
        |    (SELECT y FROM c ORDER BY b LIMIT 1) AS y1,
        |    (SELECT x FROM c ORDER BY b DESC LIMIT 1) AS x2,
        |    (SELECT y FROM c ORDER BY b DESC LIMIT 1) AS y2),
        |sc AS (
        |  SELECT c.b, c.x, c.y,
        |    ABS((en.x2 - en.x1) * (en.y1 - c.y)
        |      - (en.x1 - c.x) * (en.y2 - en.y1)) AS cr
        |  FROM c, en),
        |mx AS (SELECT MAX(cr) AS m FROM sc),
        |kn AS (
        |  SELECT MIN(b) AS knee_bucket FROM sc, mx WHERE sc.cr = mx.m)
        |SELECT kn.knee_bucket, sc.x AS cum_tokens,
        |  sc.y AS vocab_size
        |FROM kn JOIN sc ON sc.b = kn.knee_bucket""".stripMargin,

    // identical decile buckets on bigrams
    "q_bigram_saturation" ->
      """WITH mx AS (SELECT MAX(doc_id) + 1 AS mxd FROM documents),
        |fs AS (
        |  SELECT g, MIN(doc_id) AS first_doc FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, len(l) - 1),
        |        i -> l[i] || ' ' || l[i + 1])) AS g
        |    FROM (SELECT doc_id, string_split(text, ' ') AS l
        |          FROM documents))
        |  GROUP BY 1),
        |nb AS (
        |  SELECT CAST((first_doc * 10) // mx.mxd AS INT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS new_bigrams
        |  FROM fs, mx GROUP BY 1),
        |tb AS (
        |  SELECT CAST((doc_id * 10) // mx.mxd AS INT) AS bucket,
        |    CAST(SUM(CASE WHEN len(string_split(text, ' ')) - 1 > 0
        |      THEN len(string_split(text, ' ')) - 1 ELSE 0 END)
        |      AS BIGINT) AS n_bigrams
        |  FROM documents, mx GROUP BY 1),
        |cm AS (
        |  SELECT CAST(tb.bucket AS BIGINT) AS bucket,
        |    CAST(SUM(tb.n_bigrams) OVER w AS BIGINT) AS cum_bigrams,
        |    CAST(SUM(COALESCE(nb.new_bigrams, 0)) OVER w AS BIGINT)
        |      AS vocab_bigrams
        |  FROM tb LEFT JOIN nb ON tb.bucket = nb.bucket
        |  WINDOW w AS (ORDER BY tb.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT bucket, cum_bigrams, vocab_bigrams,
        |  ROUND(1.0 - CAST(vocab_bigrams AS DOUBLE) / cum_bigrams, 6)
        |    AS saturation
        |FROM cm ORDER BY bucket""".stripMargin,

    // km leg verbatim; identical median pick
    "q_km_median" ->
      s"""WITH km AS (${EventsQ.oracle("q_survival_km")}),
        |md AS (
        |  SELECT CAST(MIN(t_days) AS BIGINT) AS median_days
        |  FROM km WHERE surv <= 0.5),
        |ls AS (
        |  SELECT surv AS final_surv FROM km
        |  ORDER BY t_days DESC LIMIT 1)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM km)
        |    AS n_event_times,
        |  md.median_days, ls.final_surv
        |FROM md, ls""".stripMargin,

    // identical exact gaps and med2
    "q_mtbf_errors" ->
      """WITH er AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        |  WHERE event_type = 'error'),
        |g AS (
        |  SELECT us - pus AS g, user_id, event_id
        |  FROM (SELECT user_id, event_id, us,
        |          lag(us) OVER (PARTITION BY user_id
        |            ORDER BY us, event_id) AS pus
        |        FROM er)
        |  WHERE pus IS NOT NULL),
        |rk AS (
        |  SELECT g,
        |    CAST(row_number() OVER (ORDER BY g, user_id, event_id)
        |      AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n
        |  FROM g),
        |ag AS (
        |  SELECT MAX(n) AS n_gaps, CAST(SUM(g) AS BIGINT) AS sg,
        |    CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN g ELSE 0 END)
        |      + SUM(CASE WHEN rn = n // 2 + 1 THEN g ELSE 0 END)
        |      AS BIGINT) AS med2
        |  FROM rk)
        |SELECT n_gaps, ROUND(med2 / 2e6, 2) AS median_mtbf_sec,
        |  ROUND(CAST(sg AS DOUBLE) / n_gaps / 1e6, 2)
        |    AS mean_mtbf_sec
        |FROM ag""".stripMargin,

    // identical snapped per-lag correlations
    "q_act_integrated" ->
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
        |lg AS (SELECT unnest(generate_series(1, 10)) AS k),
        |rho AS (
        |  SELECT a.event_type,
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
        |  GROUP BY a.event_type, lg.k),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_lags,
        |    CAST(SUM(rho_u) AS BIGINT) AS sr
        |  FROM rho GROUP BY 1)
        |SELECT ag.event_type, mom.n AS n_days,
        |  ROUND(1.0 + 2.0 * ag.sr / 1e9, 4) AS tau_int,
        |  ROUND(mom.n / (1.0 + 2.0 * ag.sr / 1e9), 2) AS ess
        |FROM ag JOIN mom ON ag.event_type = mom.event_type
        |ORDER BY ag.event_type""".stripMargin,

    // identical prefix-max records and snapped harmonic terms
    "q_record_stats" ->
      s"""WITH $dmCte,
        |rc AS (
        |  SELECT event_type,
        |    CASE WHEN pm IS NULL OR y > pm THEN 1 ELSE 0 END AS rec
        |  FROM (SELECT event_type, y,
        |          MAX(y) OVER (PARTITION BY event_type ORDER BY d
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |            AS pm
        |        FROM dm)),
        |ra AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(rec) AS BIGINT) AS n_records
        |  FROM rc GROUP BY 1),
        |hm AS (
        |  SELECT event_type,
        |    CAST(SUM(CAST(ROUND(1e12 / i) AS BIGINT)) AS BIGINT)
        |      AS sh
        |  FROM (SELECT event_type,
        |          CAST(row_number() OVER (PARTITION BY event_type
        |            ORDER BY d) AS BIGINT) AS i
        |        FROM dm)
        |  GROUP BY 1)
        |SELECT ra.event_type, ra.n AS n_days, ra.n_records,
        |  ROUND(hm.sh / 1e12, 4) AS expected_records,
        |  ROUND(CAST(ra.n_records AS DOUBLE) / (hm.sh / 1e12), 4)
        |    AS record_ratio
        |FROM ra JOIN hm ON ra.event_type = hm.event_type
        |ORDER BY ra.event_type""".stripMargin
  )
}
