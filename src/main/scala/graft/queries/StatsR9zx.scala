package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables.Tables

/** Round-9 wave 51 (SURVEY.md §2 B.10b): best-of-n selection gain
  * over each user's first 5 events (the sampling-with-selection
  * eval analog), majority-vote sequence prediction (first-5 modal
  * type → 6th event), pairwise language vocabulary overlap,
  * within-word character conditional entropy H(c₂|c₁), Bloom-filter
  * cardinality algebra (fill-rate estimator −(m/k)ln(1−X/m) for two
  * sets and their union → intersection estimate vs truth), and
  * split-half reliability of the daily series with the
  * Spearman-Brown correction.
  */
object StatsR9zx {

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // Best-of-5 selection gain: users with ≥5 events (stated), the
    // first five by (ts, id); E[max] vs E[mean] in exact centi
    // (the per-user mean ×5-cleared).
    "q_best_of_n" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("tu", "event_id")
      val per = Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("tu"),
          col("event_id"),
          round(col("value") * 100).cast("long").as("v"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), max("v").as("mx"),
          sum("v").as("s5"))
        .filter(col("n") === 5)
      per.agg(count(lit(1)).as("n_users"), sum("mx").as("smx"),
          sum("s5").as("ss5"))
        .select(col("n_users"),
          round(col("smx").cast("double") / col("n_users") / 100, 6)
            .as("mean_best_of_5"),
          round(col("ss5").cast("double") / (col("n_users") * 5)
            / 100, 6).as("mean_of_means"),
          round(col("smx").cast("double") * 5 / col("ss5"), 6)
            .as("selection_gain"))
    }),

    // Majority vote: modal type of the first 5 events (ties → the
    // lexicographically smallest modal type, stated) predicting the
    // 6th event's type; baseline = the global modal share at
    // position 6.
    "q_majority_vote" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("tu", "event_id")
      val base = Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("tu"),
          col("event_id"), col("event_type"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 6)
        .localCheckpoint(eager = true)
      val modal = base.filter(col("rk") <= 5)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("c"))
        .withColumn("r", row_number().over(
          Window.partitionBy("user_id")
            .orderBy(col("c").desc, col("event_type").asc)))
        .filter(col("r") === 1)
        .select(col("user_id"), col("event_type").as("pred"))
      val sixth = base.filter(col("rk") === 6)
        .select(col("user_id"), col("event_type").as("actual"))
        .localCheckpoint(eager = true)
      val glob = sixth.groupBy("actual").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("actual").asc).limit(1)
        .select(col("c").as("modal_c"))
      val acc = sixth.join(modal, "user_id")
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("pred") === col("actual"), 1L).otherwise(0L))
            .as("hits"))
      acc.crossJoin(broadcast(glob))
        .select(col("n_users"), col("hits"),
          round(col("hits").cast("double") / col("n_users"), 6)
            .as("accuracy"),
          round(col("modal_c").cast("double") / col("n_users"), 6)
            .as("modal_baseline"))
    }),

    // Pairwise language vocabulary Jaccard over distinct (lang, word).
    "q_lang_vocab_overlap" -> ((s, d) => {
      val lw = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .distinct().localCheckpoint(eager = true)
      val sz = lw.groupBy("lang").agg(count(lit(1)).as("nv"))
      val iv = lw.select(col("lang").as("l1"), col("w"))
        .join(lw.select(col("lang").as("l2"), col("w")), "w")
        .filter(col("l1") < col("l2"))
        .groupBy("l1", "l2").agg(count(lit(1)).as("common"))
      iv.join(sz.select(col("lang").as("l1"), col("nv").as("n1")), "l1")
        .join(sz.select(col("lang").as("l2"), col("nv").as("n2")), "l2")
        .select(col("l1"), col("l2"), col("common"),
          round(col("common").cast("double")
            / (col("n1") + col("n2") - col("common")), 6).as("jaccard"))
        .orderBy("l1", "l2")
    }),

    // Within-word character conditional entropy per language:
    // H(c₂|c₁) = Σ (n₁₂/N)·ln(n₁/n₁₂), per-bigram terms snapped 1e9.
    "q_char_cond_entropy" -> ((s, d) => {
      val bg = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .select(col("lang"), explode(expr(
          "transform(sequence(1, length(w) - 1), " +
            "i -> substring(w, i, 2))")).as("cc"))
        .groupBy("lang", "cc").agg(count(lit(1)).as("n12"))
        .localCheckpoint(eager = true)
      val c1 = bg.withColumn("c1", substring(col("cc"), 1, 1))
        .groupBy("lang", "c1").agg(sum("n12").as("n1"))
      val tot = bg.groupBy("lang").agg(sum("n12").as("nn"))
      bg.withColumn("c1", substring(col("cc"), 1, 1))
        .join(c1, Seq("lang", "c1"))
        .join(tot, "lang")
        .withColumn("term_u",
          round(col("n12").cast("double") / col("nn")
            * log(col("n1").cast("double") / col("n12")) * 1e9)
            .cast("long"))
        .groupBy("lang")
        .agg(max("nn").as("n_bigrams"), sum("term_u").as("st"))
        .select(col("lang"), col("n_bigrams"),
          round(col("st") / 1e9, 6).as("cond_entropy_nats"))
        .orderBy("lang")
    }),

    // Bloom cardinality algebra: purchase vs click user-id filters
    // (m=4096, k=3 PARTITIONED arrays — one per hash j, the (j, h)
    // state below); the matching partitioned-bloom estimator is
    // n̂ = −m·ln(1 − X/(k·m)) with X = total set bits across the k
    // arrays (r11 fix: the old single-array form −(m/k)·ln(1−X/m)
    // went ln(negative) once X > m, which sf0.1 reaches — Spark
    // nulled, DuckDB errored). The 1/(k·m) clamp is the standard
    // "one empty bit" saturation floor. Intersection estimate
    // n̂_a + n̂_b − n̂_union vs the true distinct intersection.
    "q_bloom_cardinality" -> ((s, d) => {
      def bits(t: String) = Tables.events(s, d)
        .filter(col("event_type") === t)
        .select(col("user_id").as("x"))
        .withColumn("j", explode(array(lit(0), lit(1), lit(2))))
        // mod-2^63 DECIMAL reduction: x·C overflows BIGINT for ids
        // above ~3.5e9 (ANSI Spark throws, DuckDB raises); identity
        // for smaller ids (oracle mirrors via HUGEINT)
        .select(expr(
          """CAST(pmod(CAST(x AS DECIMAL(38,0))
            |    * (CASE j WHEN 0 THEN 2654435761
            |      WHEN 1 THEN 2246822519 ELSE 3266489917 END)
            |    + (CASE j WHEN 0 THEN 1 WHEN 1 THEN 7 ELSE 13 END),
            |  9223372036854775808) AS BIGINT)
            |  % 2147483647 % 4096""".stripMargin).as("h"),
          col("j")).select(col("j"), col("h")).distinct()
      val a = bits("purchase").localCheckpoint(eager = true)
      val b = bits("click").localCheckpoint(eager = true)
      val xa = a.agg(count(lit(1)).as("xa"))
      val xb = b.agg(count(lit(1)).as("xb"))
      val xu = a.union(b).distinct().agg(count(lit(1)).as("xu"))
      val tru = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct()
        .join(Tables.events(s, d).filter(col("event_type") === "click")
          .select(col("user_id")).distinct(), "user_id")
        .agg(count(lit(1)).as("true_inter"))
      def est(c: org.apache.spark.sql.Column) =
        lit(-4096.0) * log(greatest(lit(1.0) - c / 12288.0,
          lit(1.0 / 12288.0)))
      xa.crossJoin(xb).crossJoin(xu).crossJoin(broadcast(tru))
        .select(col("xa").as("bits_a"), col("xb").as("bits_b"),
          col("xu").as("bits_union"),
          round(est(col("xa")), 4).as("est_purchasers"),
          round(est(col("xb")), 4).as("est_clickers"),
          round(est(col("xa")) + est(col("xb")) - est(col("xu")), 4)
            .as("est_intersection"),
          col("true_inter"))
    }),

    // Split-half reliability per type: pair day 2i−1 with day 2i,
    // Pearson r from cleared moments, Spearman-Brown 2r/(1+r).
    "q_split_half" -> ((s, d) => {
      val ix = DailyGrid.mean(s, d)
      val odd = ix.filter(col("i") % 2 === 1)
        .select(col("event_type"), ((col("i") + 1) / 2).cast("long")
          .as("p"), col("y").as("yo"))
      val even = ix.filter(col("i") % 2 === 0)
        .select(col("event_type"), (col("i") / 2).cast("long").as("p"),
          col("y").as("ye"))
      odd.join(even, Seq("event_type", "p"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("yo").as("sa"),
          sum("ye").as("sb"), sum(col("yo") * col("ye")).as("sab"),
          sum(col("yo") * col("yo")).as("saa"),
          sum(col("ye") * col("ye")).as("sbb"))
        .filter(col("n") > 2
          && col("n") * col("saa") > col("sa") * col("sa")
          && col("n") * col("sbb") > col("sb") * col("sb"))
        .withColumn("r", (col("n") * col("sab") - col("sa") * col("sb"))
          .cast("double")
          / sqrt((col("n") * col("saa") - col("sa") * col("sa"))
            .cast("double")
            * (col("n") * col("sbb") - col("sb") * col("sb"))))
        .select(col("event_type"), col("n").as("n_pairs"),
          round(col("r"), 6).as("split_half_r"),
          round(lit(2.0) * col("r") / (lit(1.0) + col("r")), 6)
            .as("spearman_brown"))
        .orderBy("event_type")
    })
  )

  val oracle: Map[String, String] = Map(
    // identical first-5 selection
    "q_best_of_n" ->
      """WITH rk AS (
        |  SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS v,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rk
        |  FROM events),
        |per AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |    MAX(v) AS mx, SUM(v) AS s5
        |  FROM rk WHERE rk <= 5 GROUP BY 1 HAVING COUNT(*) = 5)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |  ROUND(CAST(SUM(mx) AS DOUBLE) / COUNT(*) / 100, 6)
        |    AS mean_best_of_5,
        |  ROUND(CAST(SUM(s5) AS DOUBLE) / (COUNT(*) * 5) / 100, 6)
        |    AS mean_of_means,
        |  ROUND(CAST(SUM(mx) AS DOUBLE) * 5 / SUM(s5), 6)
        |    AS selection_gain
        |FROM per""".stripMargin,

    // identical modal-vote prediction
    "q_majority_vote" ->
      """WITH rk AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rk
        |  FROM events),
        |modal AS (
        |  SELECT user_id, event_type AS pred FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY COUNT(*) DESC, event_type ASC) AS r
        |    FROM rk WHERE rk <= 5 GROUP BY user_id, event_type)
        |  WHERE r = 1),
        |sixth AS (
        |  SELECT user_id, event_type AS actual FROM rk WHERE rk = 6),
        |gmod AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS modal_c FROM sixth
        |  GROUP BY actual ORDER BY COUNT(*) DESC, actual ASC LIMIT 1),
        |acc AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(CASE WHEN modal.pred = sixth.actual THEN 1
        |      ELSE 0 END) AS BIGINT) AS hits
        |  FROM sixth JOIN modal ON sixth.user_id = modal.user_id)
        |SELECT n_users, hits,
        |  ROUND(CAST(hits AS DOUBLE) / n_users, 6) AS accuracy,
        |  ROUND(CAST(modal_c AS DOUBLE) / n_users, 6)
        |    AS modal_baseline
        |FROM acc, gmod""".stripMargin,

    // identical distinct vocab sets
    "q_lang_vocab_overlap" ->
      """WITH lw AS (
        |  SELECT DISTINCT lang, UNNEST(string_split(text, ' ')) AS w
        |  FROM documents),
        |sz AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nv
        |       FROM lw GROUP BY 1),
        |iv AS (
        |  SELECT a.lang AS l1, b.lang AS l2,
        |    CAST(COUNT(*) AS BIGINT) AS common
        |  FROM lw a JOIN lw b ON a.w = b.w AND a.lang < b.lang
        |  GROUP BY 1, 2)
        |SELECT iv.l1, iv.l2, iv.common,
        |  ROUND(CAST(iv.common AS DOUBLE)
        |    / (z1.nv + z2.nv - iv.common), 6) AS jaccard
        |FROM iv
        |JOIN sz z1 ON iv.l1 = z1.lang
        |JOIN sz z2 ON iv.l2 = z2.lang
        |ORDER BY iv.l1, iv.l2""".stripMargin,

    // identical snapped bigram terms
    "q_char_cond_entropy" ->
      """WITH ws AS (
        |  SELECT lang, UNNEST(string_split(text, ' ')) AS w
        |  FROM documents),
        |bg AS (
        |  SELECT lang,
        |    UNNEST(list_transform(generate_series(1, len(w) - 1),
        |      i -> substring(w, i, 2))) AS cc
        |  FROM ws WHERE len(w) >= 2),
        |bc AS (SELECT lang, cc, CAST(COUNT(*) AS BIGINT) AS n12
        |       FROM bg GROUP BY 1, 2),
        |c1 AS (
        |  SELECT lang, substring(cc, 1, 1) AS c1, SUM(n12) AS n1
        |  FROM bc GROUP BY 1, 2),
        |tot AS (SELECT lang, SUM(n12) AS nn FROM bc GROUP BY 1),
        |terms AS (
        |  SELECT bc.lang,
        |    CAST(ROUND(CAST(bc.n12 AS DOUBLE) / tot.nn
        |      * LN(CAST(c1.n1 AS DOUBLE) / bc.n12) * 1e9) AS BIGINT)
        |      AS term_u,
        |    tot.nn
        |  FROM bc
        |  JOIN c1 ON bc.lang = c1.lang
        |    AND substring(bc.cc, 1, 1) = c1.c1
        |  JOIN tot ON bc.lang = tot.lang)
        |SELECT lang, CAST(MAX(nn) AS BIGINT) AS n_bigrams,
        |  ROUND(SUM(term_u) / 1e9, 6) AS cond_entropy_nats
        |FROM terms GROUP BY 1 ORDER BY lang""".stripMargin,

    // identical fill-rate algebra
    "q_bloom_cardinality" ->
      """WITH js AS (SELECT UNNEST([0, 1, 2]) AS j),
        |ab AS (
        |  SELECT DISTINCT js.j,
        |    ((CAST(user_id AS HUGEINT)
        |      * (CASE js.j WHEN 0 THEN 2654435761
        |        WHEN 1 THEN 2246822519 ELSE 3266489917 END)
        |      + (CASE js.j WHEN 0 THEN 1 WHEN 1 THEN 7 ELSE 13 END))
        |      % 9223372036854775808)
        |      % 2147483647 % 4096 AS h
        |  FROM events, js WHERE event_type = 'purchase'),
        |bb AS (
        |  SELECT DISTINCT js.j,
        |    ((CAST(user_id AS HUGEINT)
        |      * (CASE js.j WHEN 0 THEN 2654435761
        |        WHEN 1 THEN 2246822519 ELSE 3266489917 END)
        |      + (CASE js.j WHEN 0 THEN 1 WHEN 1 THEN 7 ELSE 13 END))
        |      % 9223372036854775808)
        |      % 2147483647 % 4096 AS h
        |  FROM events, js WHERE event_type = 'click'),
        |xs AS (
        |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ab) AS xa,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM bb) AS xb,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM
        |      (SELECT j, h FROM ab UNION SELECT j, h FROM bb)) AS xu,
        |    (SELECT CAST(COUNT(*) AS BIGINT)
        |     FROM (SELECT DISTINCT user_id FROM events
        |           WHERE event_type = 'purchase') p
        |     JOIN (SELECT DISTINCT user_id FROM events
        |           WHERE event_type = 'click') c
        |       ON p.user_id = c.user_id) AS true_inter)
        |SELECT xa AS bits_a, xb AS bits_b, xu AS bits_union,
        |  ROUND(-4096e0 * LN(GREATEST(1.0 - xa / 12288.0,
        |    1.0 / 12288.0)), 4) AS est_purchasers,
        |  ROUND(-4096e0 * LN(GREATEST(1.0 - xb / 12288.0,
        |    1.0 / 12288.0)), 4) AS est_clickers,
        |  ROUND(-4096e0 * LN(GREATEST(1.0 - xa / 12288.0,
        |      1.0 / 12288.0))
        |    + -4096e0 * LN(GREATEST(1.0 - xb / 12288.0,
        |      1.0 / 12288.0))
        |    - -4096e0 * LN(GREATEST(1.0 - xu / 12288.0,
        |      1.0 / 12288.0)), 4)
        |    AS est_intersection,
        |  true_inter
        |FROM xs""".stripMargin,

    // identical paired halves
    "q_split_half" -> (s"WITH ${DailyGrid.dmCte}," +
      """
        |ix AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY d) AS BIGINT) AS i
        |  FROM dm),
        |odd AS (SELECT event_type, (i + 1) // 2 AS p, y AS yo
        |        FROM ix WHERE i % 2 = 1),
        |ev AS (SELECT event_type, i // 2 AS p, y AS ye
        |       FROM ix WHERE i % 2 = 0),
        |j AS (
        |  SELECT odd.event_type, odd.yo, ev.ye
        |  FROM odd JOIN ev ON odd.event_type = ev.event_type
        |    AND odd.p = ev.p),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(yo) AS sa, SUM(ye) AS sb, SUM(yo * ye) AS sab,
        |    SUM(yo * yo) AS saa, SUM(ye * ye) AS sbb
        |  FROM j GROUP BY 1),
        |cl AS (
        |  SELECT event_type, n,
        |    CAST(n * sab - sa * sb AS DOUBLE)
        |      / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
        |        * CAST(n * sbb - sb * sb AS DOUBLE)) AS r
        |  FROM ag
        |  WHERE n > 2 AND n * saa > sa * sa AND n * sbb > sb * sb)
        |SELECT event_type, n AS n_pairs,
        |  ROUND(r, 6) AS split_half_r,
        |  ROUND(2.0 * r / (1.0 + r), 6) AS spearman_brown
        |FROM cl ORDER BY event_type""".stripMargin)
  )
}
