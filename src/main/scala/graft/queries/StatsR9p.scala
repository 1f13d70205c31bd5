package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.expr.Registry
import graft.tables.Tables

/** Round-9 wave 16 (SURVEY.md §2 B.10b + B.11): Ethereum address
  * normalization at the QUERY level (the existing keccak-256
  * expression — B.11's declared surface — driven over synthesized
  * addresses; OMIT, DuckDB has no keccak), RLP integer encoding
  * (pure hex/string algebra — oracled), 14-day rolling beta with
  * cleared window sums, UMass topic coherence over per-source top
  * terms (per-pair ln terms snapped to 1e9), IQR fences on the
  * ×8-cleared interpolated quartiles, and exact log2 histograms
  * (bucket = bit length − 1, zero float logs).
  */
object StatsR9p {

  import DailyGrid.{dmCte, wo, wp}

  val queries: Map[String, (SparkSession, String) => DataFrame] =
      Map[String, (SparkSession, String) => DataFrame](

    // EIP-55 checksum casing over synthesized 20-byte addresses
    // (user_id ++ event_id hex halves): the B.11 normalize/validate
    // row as a first-class key. OMIT — keccak-256 has no DuckDB
    // analog; R9pOpsSpec pins the public EIP-55 vectors and the
    // case-structure invariants.
    "q_eth_eip55" -> ((s, d) => {
      Registry.ensure(s)
      Tables.events(s, d)
        .select(col("event_id"),
          concat(lpad(lower(hex(col("user_id"))), 20, "0"),
            lpad(lower(hex(col("event_id"))), 20, "0")).as("addr"))
        .withColumn("checksummed",
          expr("eth_checksum_address(concat('0x', addr))"))
        .orderBy("event_id")
    }),

    // RLP encoding of event_id as a minimal big-endian integer
    // (the canonical Ethereum wire item): 0 → '80', single byte
    // < 0x80 → itself, else 0x80+len prefix — pure hex algebra,
    // spelled identically in the oracle.
    "q_eth_rlp" -> ((s, d) => {
      val h = lower(hex(col("event_id")))
      Tables.events(s, d)
        .withColumn("padded", when(length(h) % 2 === 1,
          concat(lit("0"), h)).otherwise(h))
        .select(col("event_id"),
          when(col("event_id") === 0, lit("80"))
            .when(col("event_id") < 128, col("padded"))
            .otherwise(concat(
              lower(hex(lit(128) + expr("length(padded) div 2"))),
              col("padded")))
            .as("rlp"))
        .orderBy("event_id")
    }),

    // 14-day rolling beta vs the pooled market returns: cleared
    // in-window sums (14·Σxy − ΣxΣy)/(14·Σyy − (Σy)²) — exact longs
    // to ONE division per day row, full windows only.
    "q_rolling_beta" -> ((s, d) => {
      val w14 = wo.rowsBetween(-13, 0)
      DailyGrid.ret(s, d).join(broadcast(DailyGrid.marketRet(s, d)), "d")
        .withColumn("n14", count(lit(1)).over(w14))
        .withColumn("sxy", sum(col("r_u") * col("rm_u")).over(w14))
        .withColumn("sx", sum("r_u").over(w14))
        .withColumn("sy", sum("rm_u").over(w14))
        .withColumn("syy", sum(col("rm_u") * col("rm_u")).over(w14))
        .filter(col("n14") === 14
          && col("syy") * 14 > col("sy") * col("sy"))
        .select(col("event_type"), col("d"),
          round((col("sxy") * 14 - col("sx") * col("sy"))
            .cast("double")
            / (col("syy") * 14 - col("sy") * col("sy")), 6)
            .as("beta14"))
        .orderBy("event_type", "d")
    }),

    // UMass topic coherence per source over its top-10 document-
    // frequency terms: Σ_{l<m} ln((D(w_m,w_l)+1)/D(w_l)) with D from
    // GLOBAL doc counts, each pair term snapped to 1e9 before the
    // exact per-source sum. The co-occurrence join runs only over
    // the ≤ |sources|·10 candidate terms.
    "q_topic_coherence" -> ((s, d) => {
      val dtok = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(array_distinct(split(col("text"), " "))).as("tok"))
        .localCheckpoint(eager = true) // term counts + cooc legs
      val top = dtok.groupBy("source", "tok")
        .agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("source")
            .orderBy(col("c").desc, col("tok"))).cast("long"))
        .filter(col("rk") <= 10)
        .select("source", "tok", "rk")
        .localCheckpoint(eager = true) // bounded: 10 per source
      val gdoc = dtok.groupBy("tok").agg(countDistinct("doc_id").as("dw"))
      val pairs = top.select(col("source"), col("tok").as("wl"),
          col("rk").as("rl"))
        .join(top.select(col("source"), col("tok").as("wm"),
          col("rk").as("rm")), "source")
        .filter(col("rl") < col("rm"))
      val keep = top.select("tok").distinct()
      val dk = dtok.join(broadcast(keep), "tok")
        .select("doc_id", "tok").distinct()
      val cooc = dk.select(col("doc_id"), col("tok").as("ta"))
        .join(dk.select(col("doc_id"), col("tok").as("tb")), "doc_id")
        .filter(col("ta") < col("tb"))
        .groupBy("ta", "tb").agg(count(lit(1)).as("dmn"))
      pairs
        .withColumn("ta", least(col("wl"), col("wm")))
        .withColumn("tb", greatest(col("wl"), col("wm")))
        .join(cooc, Seq("ta", "tb"), "left")
        .join(broadcast(gdoc.select(col("tok").as("wl"),
          col("dw").as("dl"))), "wl")
        .select(col("source"),
          round(log((coalesce(col("dmn"), lit(0L)) + lit(1))
            .cast("double") / col("dl")) * 1e9).cast("long")
            .as("term_u"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_pairs"),
          round(sum("term_u") / 1e9, 4).as("coherence"))
        .orderBy("source")
    }),

    // IQR fences on the ×4-cleared interpolated quartiles (wave-15's
    // exact interpolation), doubled once more so 1.5·IQR stays a
    // long: lo8 = 2·v25 − 3·iqr4, hi8 = 2·v75 + 3·iqr4; daily values
    // compare at y·8. Exact integers end to end.
    "q_iqr_fences" -> ((s, d) => {
      val wr = Window.partitionBy("event_type").orderBy("y", "d")
      val ranked = DailyGrid.mean(s, d)
        .withColumn("rn", row_number().over(wr).cast("long"))
        .withColumn("n", count(lit(1)).over(wp))
        .localCheckpoint(eager = true) // quartiles + outlier legs
      def interp(q4: Int) =
        (sum(when(col("rn") === expr(s"((n - 1) * $q4) div 4") + 1,
          col("y")).otherwise(0L)) * (lit(4) - max((col("n") - 1) * q4 % 4))
          + sum(when(col("rn") === expr(s"((n - 1) * $q4) div 4") + 2,
            col("y")).otherwise(0L)) * max((col("n") - 1) * q4 % 4))
      val qs = ranked.groupBy("event_type")
        .agg(max("n").as("n_days"), interp(1).as("v25"),
          interp(3).as("v75"))
        .withColumn("lo8", col("v25") * 2 - (col("v75") - col("v25")) * 3)
        .withColumn("hi8", col("v75") * 2 + (col("v75") - col("v25")) * 3)
      ranked.join(broadcast(qs), "event_type")
        .groupBy(col("event_type"), col("n_days"), col("v25"),
          col("v75"), col("lo8"), col("hi8"))
        .agg(sum(when(col("y") * 8 < col("lo8"), 1L).otherwise(0L))
            .as("n_low"),
          sum(when(col("y") * 8 > col("hi8"), 1L).otherwise(0L))
            .as("n_high"))
        .select(col("event_type"), col("n_days"),
          round(col("v25") / 4000.0, 6).as("q1"),
          round(col("v75") / 4000.0, 6).as("q3"),
          col("n_low"), col("n_high"))
        .orderBy("event_type")
    }),

    // Exact log2 value histogram per type: bucket = bit length − 1
    // of the centi value (an integer property — no float log, no
    // boundary ulp), bounds by integer shift.
    "q_log2_hist" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("v_c"))
        .filter(col("v_c") >= 1)
        .withColumn("bucket", (length(expr("bin(v_c)")) - 1)
          .cast("long"))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("bucket"),
          expr("shiftleft(1L, cast(bucket as int))").as("lo"),
          (expr("shiftleft(1L, cast(bucket as int) + 1)") - 1).as("hi"),
          col("n"))
        .orderBy("event_type", "bucket")
    })
  )

  val oracle: Map[String, String] = Map(
    // identical hex algebra (DuckDB printf lowercase = Spark
    // lower(hex))
    "q_eth_rlp" ->
      """WITH h AS (
        |  SELECT event_id, printf('%x', event_id) AS hx FROM events),
        |p AS (
        |  SELECT event_id,
        |    CASE WHEN length(hx) % 2 = 1 THEN '0' || hx ELSE hx END
        |      AS padded
        |  FROM h)
        |SELECT event_id,
        |  CASE WHEN event_id = 0 THEN '80'
        |    WHEN event_id < 128 THEN padded
        |    ELSE printf('%x', 128 + length(padded) // 2) || padded
        |  END AS rlp
        |FROM p ORDER BY event_id""".stripMargin,

    // identical market leg and cleared window sums
    "q_rolling_beta" ->
      s"""WITH ${DailyGrid.retCte},
        |mk AS (
        |  SELECT d,
        |    CAST(ROUND(ln(CAST(my AS DOUBLE) / pmy) * 1e6) AS BIGINT)
        |      AS rm_u
        |  FROM (SELECT d, my,
        |          lag(my) OVER (ORDER BY d) AS pmy
        |        FROM (SELECT CAST(ts AS DATE) AS d,
        |                CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT))
        |                  // COUNT(*) AS BIGINT) AS my
        |              FROM events GROUP BY 1))
        |  WHERE pmy IS NOT NULL),
        |j AS (
        |  SELECT ret.event_type, ret.d, ret.r_u, mk.rm_u
        |  FROM ret JOIN mk ON ret.d = mk.d),
        |w AS (
        |  SELECT event_type, d,
        |    COUNT(*) OVER w14 AS n14,
        |    CAST(SUM(r_u * rm_u) OVER w14 AS BIGINT) AS sxy,
        |    CAST(SUM(r_u) OVER w14 AS BIGINT) AS sx,
        |    CAST(SUM(rm_u) OVER w14 AS BIGINT) AS sy,
        |    CAST(SUM(rm_u * rm_u) OVER w14 AS BIGINT) AS syy
        |  FROM j
        |  WINDOW w14 AS (PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, d,
        |  ROUND(CAST(sxy * 14 - sx * sy AS DOUBLE)
        |    / (syy * 14 - sy * sy), 6) AS beta14
        |FROM w WHERE n14 = 14 AND syy * 14 > sy * sy
        |ORDER BY event_type, d""".stripMargin,

    // identical top-term ranking, global D, and snapped pair terms
    "q_topic_coherence" ->
      """WITH dtok AS (
        |  SELECT DISTINCT doc_id, source,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |top AS (
        |  SELECT source, tok, rk FROM (
        |    SELECT source, tok,
        |      CAST(row_number() OVER (PARTITION BY source
        |        ORDER BY COUNT(*) DESC, tok) AS BIGINT) AS rk
        |    FROM dtok GROUP BY source, tok)
        |  WHERE rk <= 10),
        |gdoc AS (
        |  SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS dw
        |  FROM dtok GROUP BY 1),
        |pairs AS (
        |  SELECT a.source, a.tok AS wl, b.tok AS wm
        |  FROM top a JOIN top b
        |    ON a.source = b.source AND a.rk < b.rk),
        |keep AS (SELECT DISTINCT tok FROM top),
        |dk AS (
        |  SELECT DISTINCT dtok.doc_id, dtok.tok
        |  FROM dtok JOIN keep ON dtok.tok = keep.tok),
        |cooc AS (
        |  SELECT a.tok AS ta, b.tok AS tb,
        |    CAST(COUNT(*) AS BIGINT) AS dmn
        |  FROM dk a JOIN dk b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |  GROUP BY 1, 2),
        |t AS (
        |  SELECT pairs.source,
        |    CAST(ROUND(ln(CAST(COALESCE(cooc.dmn, 0) + 1 AS DOUBLE)
        |      / gd.dw) * 1e9) AS BIGINT) AS term_u
        |  FROM pairs
        |  LEFT JOIN cooc ON cooc.ta = LEAST(pairs.wl, pairs.wm)
        |    AND cooc.tb = GREATEST(pairs.wl, pairs.wm)
        |  JOIN gdoc gd ON gd.tok = pairs.wl)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  ROUND(CAST(SUM(term_u) AS BIGINT) / 1e9, 4) AS coherence
        |FROM t GROUP BY 1 ORDER BY source""".stripMargin,

    // identical ×4/×8-cleared fences
    "q_iqr_fences" ->
      s"""WITH $dmCte,
        |rk AS (
        |  SELECT event_type, y,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY y, d) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n
        |  FROM dm),
        |qs AS (
        |  SELECT event_type, MAX(n) AS n_days,
        |    SUM(CASE WHEN rn = ((n - 1) * 1) // 4 + 1 THEN y ELSE 0
        |        END) * (4 - MAX(((n - 1) * 1) % 4))
        |      + SUM(CASE WHEN rn = ((n - 1) * 1) // 4 + 2 THEN y
        |        ELSE 0 END) * MAX(((n - 1) * 1) % 4) AS v25,
        |    SUM(CASE WHEN rn = ((n - 1) * 3) // 4 + 1 THEN y ELSE 0
        |        END) * (4 - MAX(((n - 1) * 3) % 4))
        |      + SUM(CASE WHEN rn = ((n - 1) * 3) // 4 + 2 THEN y
        |        ELSE 0 END) * MAX(((n - 1) * 3) % 4) AS v75
        |  FROM rk GROUP BY 1),
        |fe AS (
        |  SELECT event_type, n_days, v25, v75,
        |    v25 * 2 - (v75 - v25) * 3 AS lo8,
        |    v75 * 2 + (v75 - v25) * 3 AS hi8
        |  FROM qs),
        |ct AS (
        |  SELECT fe.event_type, fe.n_days, fe.v25, fe.v75,
        |    CAST(SUM(CASE WHEN rk.y * 8 < fe.lo8 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_low,
        |    CAST(SUM(CASE WHEN rk.y * 8 > fe.hi8 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_high
        |  FROM fe JOIN rk ON rk.event_type = fe.event_type
        |  GROUP BY 1, 2, 3, 4)
        |SELECT event_type, n_days,
        |  ROUND(v25 / 4000.0, 6) AS q1, ROUND(v75 / 4000.0, 6) AS q3,
        |  n_low, n_high
        |FROM ct ORDER BY event_type""".stripMargin,

    // identical bit-length buckets
    "q_log2_hist" ->
      """WITH v AS (
        |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v_c
        |  FROM events),
        |b AS (
        |  SELECT event_type,
        |    CAST(length(printf('%b', v_c)) - 1 AS BIGINT) AS bucket
        |  FROM v WHERE v_c >= 1)
        |SELECT event_type, bucket,
        |  CAST(1 << CAST(bucket AS INT) AS BIGINT) AS lo,
        |  CAST((1 << (CAST(bucket AS INT) + 1)) - 1 AS BIGINT) AS hi,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM b GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin
  )
}
