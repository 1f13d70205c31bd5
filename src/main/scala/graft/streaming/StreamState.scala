package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import StreamOps.{rawSchema, readEventsStream, runToParquet, stageEventsInput, stageTable}

/** Per-key state folds over the events stream (SURVEY.md §2 B.9).
  * Each key is a flatMapGroupsWithState query under
  * `Trigger.AvailableNow` whose sink read-back is a pure batch function
  * of the events table, so every key carries a full DuckDB oracle
  * (the r6 deterministic-read-back doctrine):
  *  - mergeable sketches: count-min, KMV distinct, HyperLogLog, the
  *    k=64 min-priority reservoir, priority sampling, the log2
  *    histogram, the SLO hour counters;
  *  - sequential monitors: z-score, CUSUM, new highs, drawdown, gap
  *    alarm, ring z-score, lag-1 autocorrelation, integer EMA,
  *    inter-arrival gaps, last-k distinct, SPRT;
  *  - top-k, Markov transitions, funnel match, VWAP and Bloom dedup.
  *
  * State sizes are O(1) or O(k) per key (constant moment tuples, 64
  * longs, a 4096-byte bit array, a 50-slot ring), independent of
  * throughput. At cluster scale the Bloom key's bit array is sharded by
  * a hash prefix of the id (see s_stream_bloom_dedup); every other key
  * partitions by event_type, user or hour already.
  *
  * SINGLE-BATCH INVARIANT (oracle parity contract): the order-sensitive
  * folds sort rows by (ts, event_id) — StreamCorpus's provenance and
  * substring_dup by doc order — only WITHIN each micro-batch, while
  * their oracles assume the global order. Parity holds because
  * `Trigger.AvailableNow` with no `maxFilesPerTrigger` option drains ALL
  * staged files in exactly ONE micro-batch, however many part files
  * `stageTable` stages. These keys run with `singleBatch = true`, so a
  * run that commits a second data batch fails instead of diverging
  * silently. Folds whose merge commutes (CMS, KMV, HLL, reservoir, PPS,
  * SLO, log2 histogram, top-k, VWAP) are exempt; CMS and top-k stage
  * their input with maxFilesPerTrigger=1 on purpose, to prove their
  * state merges across batches.
  */
object StreamState {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Streaming count-min sketch: the q_count_min counter array
    // maintained as PER-KEY RUNNING STATE across micro-batches — the
    // mergeability property that makes CMS the streaming frequency
    // sketch. The input is the events table staged TWICE with
    // maxFilesPerTrigger=1, so the counters provably merge increments
    // from separate micro-batches; each batch emits the key's running
    // total (Append) and the read-back takes the final (max) value.
    // The DuckDB oracle rebuilds the doubled counter table from the
    // same md5 row hashes — equality proves per-key state carried
    // across batch boundaries.
    "s_stream_cms" -> ((s, d) => {
      import s.implicits._
      val in = stageEventsInput(s, d, 2)
      val rows = s.readStream.schema(rawSchema)
        .option("maxFilesPerTrigger", 1).parquet(in)
        .withColumn("item", concat_ws("|", col("event_type"),
          least(floor(col("value") / 50), lit(9L)).cast("long")))
        .select(col("item"), explode(expr("sequence(0, 3)")).as("r"))
        .withColumn("bkt",
          conv(substring(md5(concat(col("r").cast("string"), lit("|"),
            col("item"))), 1, 4), 16, 10).cast("int") % 256)
        .select(col("r"), col("bkt"))
        .as[(Int, Int)]
      val counters = rows.groupByKey(identity)
        .flatMapGroupsWithState[Long, (Int, Int, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case ((r, b), it, state: GroupState[Long]) =>
            val c = state.getOption.getOrElse(0L) + it.length
            state.update(c)
            Iterator.single((r, b, c))
        }
        .toDF("r", "bkt", "c")
      runToParquet(counters).groupBy("r", "bkt").agg(max("c").as("c"))
        .orderBy("r", "bkt")
    }),

    // Streaming z-score anomaly alarm: per-event-type running
    // (n, Σv, Σv²) state in EXACT centi longs; each event past the
    // 30-observation warmup scores against the state BEFORE its own
    // update (the online-monitoring convention), |z| > 3 alarms.
    // O(1) state per key; the read-back rolls alarms up per type.
    // The batch twin is a plain prefix window (ROWS … 1 PRECEDING)
    // over the same exact longs — the DuckDB oracle IS that twin, so
    // equality proves the sequential state math carried across rows.
    "s_stream_zscore" -> ((s, d) => {
      import s.implicits._
      val ev = readEventsStream(s, stageTable(d, "events"))
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), round(col("value") * 100).cast("long").as("v_c"))
        .as[(String, Long, Long, Long)]
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long, Long), (String, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (t, rows, state: GroupState[(Long, Long, Long)]) =>
            var (n, s1, s2) = state.getOption.getOrElse((0L, 0L, 0L))
            val res = rows.toArray.sortBy(r => (r._2, r._3)).flatMap { r =>
              val o = if (n >= 30) {
                // sd == 0 (all warmup values identical) would give
                // z = NaN, where JVM abs(NaN) > 3 is false but DuckDB
                // orders NaN above all values — guard both engines
                // with the same exact-integer test s2·n > s1² (true
                // iff the variance is strictly positive).
                val alarm = if (s2 * n > s1 * s1) {
                  val mean = s1.toDouble / n
                  val sd = math.sqrt(
                    (s2 - s1.toDouble * s1 / n) / (n - 1))
                  if (math.abs((r._4 - mean) / sd) > 3.0) 1L else 0L
                } else 0L
                Some((t, alarm))
              } else None
              n += 1; s1 += r._4; s2 += r._4 * r._4
              o
            }
            state.update((n, s1, s2))
            res.iterator
        }
        .toDF("event_type", "alarm")
      runToParquet(scored, singleBatch = true).groupBy("event_type")
        .agg(count(lit(1)).as("n_scored"), sum("alarm").as("n_alarms"))
        .orderBy("event_type")
    }),

    // Streaming CUSUM drift monitor in EXACT integers: the recursion
    // s⁺ₙ = max(0, s⁺ₙ₋₁ + (x−target−slack)) equals Pₙ − min₀..ₙ Pₖ
    // over the raw prefix sum P — so the O(1) per-type state is two
    // exact centi longs (P, minP), no clamped recursion and no
    // doubles anywhere. Alarm when s⁺ > H. The DuckDB oracle IS the
    // closed form: one prefix-sum window + one running-min window
    // over the same exact longs — equality proves the sequential
    // state math carried across rows.
    "s_stream_cusum" -> ((s, d) => {
      import s.implicits._
      val target = 5000L; val slack = 200L; val h = 100000L
      val ev = readEventsStream(s, stageTable(d, "events"))
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), round(col("value") * 100).cast("long").as("v_c"))
        .as[(String, Long, Long, Long)]
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long), (String, Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (t, rows, state: GroupState[(Long, Long)]) =>
            var (p, minp) = state.getOption.getOrElse((0L, 0L))
            val res = rows.toArray.sortBy(r => (r._2, r._3)).map { r =>
              p += r._4 - target - slack
              if (p < minp) minp = p
              val sPlus = p - minp
              (t, if (sPlus > h) 1L else 0L, sPlus)
            }
            state.update((p, minp))
            res.iterator
        }
        .toDF("event_type", "alarm", "s_plus")
      runToParquet(scored, singleBatch = true).groupBy("event_type")
        .agg(count(lit(1)).as("n_scored"), sum("alarm").as("n_alarms"),
          round(max("s_plus") / 100.0, 2).as("max_s_plus"))
        .orderBy("event_type")
    }),

    // Streaming new-extreme alarm: O(1) exact state = the running max
    // centi value per type; an arriving value strictly above it alarms
    // (the first value of a type is a new high by convention — stated,
    // and mirrored by the oracle's NULL branch). Oracle = prefix-max
    // window over ROWS … 1 PRECEDING.
    "s_stream_newhigh" -> ((s, d) => {
      import s.implicits._
      val ev = readEventsStream(s, stageTable(d, "events"))
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), round(col("value") * 100).cast("long").as("v_c"))
        .as[(String, Long, Long, Long)]
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[Long, (String, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (t, rows, state: GroupState[Long]) =>
            var mx = state.getOption.getOrElse(Long.MinValue)
            val res = rows.toArray.sortBy(r => (r._2, r._3)).map { r =>
              val alarm = if (r._4 > mx) 1L else 0L
              if (r._4 > mx) mx = r._4
              (t, alarm)
            }
            state.update(mx)
            res.iterator
        }
        .toDF("event_type", "alarm")
      runToParquet(scored, singleBatch = true).groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("alarm").as("n_newhighs"))
        .orderBy("event_type")
    }),

    // Streaming per-type top-3 maxima: state = the running top list
    // (O(k) per key), merged per micro-batch (maxFilesPerTrigger=1 →
    // one batch per staged part file). Max-merge is COMMUTATIVE, so
    // the final top-3 is file-order-independent; every batch emits
    // its running top-3, and the read-back re-ranks the union of
    // emissions (which contains the true top-3 because the last
    // batch's emission is it) with event_id dedup. Oracle = the
    // plain batch top-3 per type.
    "s_stream_topk" -> ((s, d) => {
      import s.implicits._
      val in = stageEventsInput(s, d, 1)
      val ev = s.readStream.schema(rawSchema)
        .option("maxFilesPerTrigger", 1).parquet(in)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("v_c"), col("event_id"))
        .as[(String, Long, Long)]
      val tops = ev.groupByKey(_._1)
        .flatMapGroupsWithState[List[(Long, Long)], (String, Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (t, rows, state: GroupState[List[(Long, Long)]]) =>
            val merged = (state.getOption.getOrElse(Nil)
              ++ rows.map(r => (r._2, r._3)))
              .distinct.sortBy(p => (-p._1, p._2)).take(3)
            state.update(merged)
            merged.map(p => (t, p._1, p._2)).iterator
        }.toDF("event_type", "v_c", "event_id")
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("v_c").desc, col("event_id"))
      runToParquet(tops)
        .select("event_type", "v_c", "event_id").distinct()
        .withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= 3)
        .select(col("event_type"), col("rank").cast("long").as("rank"),
          round(col("v_c") / 100.0, 2).as("value"), col("event_id"))
        .orderBy("event_type", "rank")
    }),

    // Streaming Markov transitions: per-user LAST-EVENT state
    // (flatMapGroupsWithState, O(1) state per key — the minimal
    // stateful-stream shape), each arriving event emits one
    // (prev → cur) pair; pair counts roll up at the sink read-back.
    // Batch twin: q_markov_transition's (cur, next, n) — equality
    // asserted in StreamingSpec. Carries µs timestamps as longs (the
    // sessionize precision rule) and sorts within the micro-batch;
    // cross-batch order is the file source's time order.
    "s_markov_transitions" -> ((s, d) => {
      import s.implicits._
      val ev = readEventsStream(s, stageTable(d, "events"))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"))
        .as[(Long, Long, Long, String)]
      val pairs = ev.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long, String), (String, String)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (_, rows, state: GroupState[(Long, Long, String)]) =>
            // PRECONDITION (enforced, not assumed): pairs are only
            // correct if batches arrive in event-time order per key.
            // The state carries the last-seen (ts_us, event_id); any
            // arriving event at-or-behind that high-water mark is a
            // late replay/out-of-order delivery and is DROPPED
            // (watermark-style) rather than silently emitting a
            // wrong (prev → cur) pair — a late event can never
            // retroactively splice into an already-emitted chain.
            val sorted = rows.toArray.sortBy(r => (r._2, r._3))
            val fresh = state.getOption match {
              case Some((lts, lid, _)) => sorted.filter(r =>
                r._2 > lts || (r._2 == lts && r._3 > lid))
              case None => sorted
            }
            val chain = state.getOption.map(_._3).toArray ++ fresh.map(_._4)
            val out = chain.sliding(2)
              .collect { case Array(a, b) => (a, b) }.toList
            fresh.lastOption.foreach(e => state.update((e._2, e._3, e._4)))
            out.iterator
        }
        .toDF("cur", "next")
      runToParquet(pairs, singleBatch = true)
        .groupBy("cur", "next").agg(count(lit(1)).as("n"))
        .orderBy("cur", "next")
    }),

    // Streaming funnel match (the q_asof_tolerance streaming twin):
    // per user, a purchase matches the most recent click ≤ 1 h before
    // it. O(1) exact state = last click µs; emits one row per
    // purchase. Oracle = the batch running-max-of-click-µs window
    // over the same (ts, event_id) order.
    "s_stream_funnel" -> ((s, d) => {
      import s.implicits._
      val ev = readEventsStream(s, stageTable(d, "events"))
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"),
          to_date(col("ts")).cast("string").as("dd"))
        .as[(Long, Long, Long, String, String)]
      val matched = ev.groupByKey(_._1)
        .flatMapGroupsWithState[Long, (String, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (_, rows, state: GroupState[Long]) =>
            var lastClick = state.getOption.getOrElse(Long.MinValue)
            val res = rows.toArray.sortBy(r => (r._2, r._3)).flatMap { r =>
              if (r._4 == "purchase") {
                val ok = lastClick != Long.MinValue &&
                  r._2 - lastClick <= 3600000000L
                Some((r._5, if (ok) 1L else 0L))
              } else { lastClick = r._2; None }
            }
            state.update(lastClick)
            res.iterator
        }
        .toDF("d", "matched")
      runToParquet(matched, singleBatch = true).groupBy("d")
        .agg(count(lit(1)).as("n_purchases"),
          sum("matched").as("n_matched"))
        .orderBy("d")
    }),

    // Streaming drawdown alarm: O(1) exact state = the running peak
    // centi value per type; dd = peak − v alarms above 20.00 (2000
    // centi, stated). Oracle = prefix-max window including the
    // current row over the same exact longs.
    "s_stream_drawdown" -> ((s, d) => {
      import s.implicits._
      val ev = readEventsStream(s, stageTable(d, "events"))
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), round(col("value") * 100).cast("long").as("v_c"))
        .as[(String, Long, Long, Long)]
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[Long, (String, Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (t, rows, state: GroupState[Long]) =>
            var peak = state.getOption.getOrElse(Long.MinValue)
            val res = rows.toArray.sortBy(r => (r._2, r._3)).map { r =>
              if (r._4 > peak) peak = r._4
              val dd = peak - r._4
              (t, dd, if (dd > 2000L) 1L else 0L)
            }
            state.update(peak)
            res.iterator
        }
        .toDF("event_type", "dd", "alarm")
      runToParquet(scored, singleBatch = true).groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          round(max("dd") / 100.0, 2).as("max_dd"),
          sum("alarm").as("n_alarms"))
        .orderBy("event_type")
    }),

    // Streaming inter-arrival gap alarm: O(1) exact state = last µs
    // per type; a gap > 1 h alarms; the first event of a type has
    // gap 0 by convention (stated — the oracle's COALESCE branch).
    "s_stream_gap_alarm" -> ((s, d) => {
      import s.implicits._
      val ev = readEventsStream(s, stageTable(d, "events"))
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"))
        .as[(String, Long, Long)]
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[Long, (String, Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (t, rows, state: GroupState[Long]) =>
            var last = state.getOption.getOrElse(Long.MinValue)
            val res = rows.toArray.sortBy(r => (r._2, r._3)).map { r =>
              val gap = if (last == Long.MinValue) 0L else r._2 - last
              last = r._2
              (t, gap, if (gap > 3600000000L) 1L else 0L)
            }
            state.update(last)
            res.iterator
        }
        .toDF("event_type", "gap_us", "alarm")
      runToParquet(scored, singleBatch = true).groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("alarm").as("n_gaps"),
          round(max("gap_us") / 1e6, 2).as("max_gap_sec"))
        .orderBy("event_type")
    }),

    // Streaming VWAP per type: O(1) exact state = (Σ price·1, Σ 1)
    // centi longs (every event trades one unit — stated); the
    // read-back divides once per type. Oracle = the plain batch
    // ratio over the same exact longs.
    "s_stream_vwap" -> ((s, d) => {
      import s.implicits._
      val ev = readEventsStream(s, stageTable(d, "events"))
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), round(col("value") * 100).cast("long").as("v_c"))
        .as[(String, Long, Long, Long)]
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long), (String, Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (t, rows, state: GroupState[(Long, Long)]) =>
            var (sp, n) = state.getOption.getOrElse((0L, 0L))
            val res = rows.toArray.sortBy(r => (r._2, r._3)).map { r =>
              sp += r._4; n += 1
              (t, sp, n)
            }
            state.update((sp, n))
            res.iterator
        }
        .toDF("event_type", "sp", "n")
      // the LAST emission per type carries the final running state
      runToParquet(scored).groupBy("event_type")
        .agg(max("n").as("n_events"), max(struct(col("n"), col("sp")))
          .getField("sp").as("sp_final"))
        .select(col("event_type"), col("n_events"),
          round(col("sp_final").cast("double") / col("n_events") / 100,
            4).as("vwap"))
        .orderBy("event_type")
    }),

    // Streaming ring-buffer z-score (the windowed twin of the
    // expanding s_stream_zscore): state = the last 20 centi values
    // per type (O(k) exact); an arriving value alarms when outside
    // mean ± 2sd of the PRIOR full ring (score-before-update), with
    // the exact 20·Σv² > (Σv)² positive-variance gate. Oracle = the
    // batch ROWS 20 PRECEDING..1 PRECEDING window over the same
    // longs.
    "s_stream_ring_zscore" -> ((s, d) => {
      import s.implicits._
      val ev = readEventsStream(s, stageTable(d, "events"))
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), round(col("value") * 100).cast("long").as("v_c"))
        .as[(String, Long, Long, Long)]
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[List[Long], (String, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (t, rows, state: GroupState[List[Long]]) =>
            var ring = state.getOption.getOrElse(Nil)
            val res = rows.toArray.sortBy(r => (r._2, r._3)).map { r =>
              val alarm =
                if (ring.length == 20) {
                  val s1 = ring.sum
                  val s2 = ring.map(x => x * x).sum
                  // 20·sd² cleared: (20v − s1)² > 4·(20·s2 − s1²)
                  val dev = 20L * r._4 - s1
                  if (20L * s2 > s1 * s1
                    && dev * dev > 4L * (20L * s2 - s1 * s1))
                    1L
                  else 0L
                } else 0L
              ring = (ring :+ r._4).takeRight(20)
              (t, alarm)
            }
            state.update(ring)
            res.iterator
        }
        .toDF("event_type", "alarm")
      runToParquet(scored, singleBatch = true).groupBy("event_type")
        .agg(count(lit(1)).as("n_scored"), sum("alarm").as("n_alarms"))
        .orderBy("event_type")
    }),

    // Streaming KMV: state = up to 64 smallest DISTINCT Knuth hashes
    // of user_id per type (+ rows-seen counter). Order-independent,
    // so the read-back equals the batch q_kmv_distinct formula.
    "s_stream_kmv" -> ((s, d) => {
      import s.implicits._
      val ev = readEventsStream(s, stageTable(d, "events"))
        .select(col("event_type"),
          // product reduced mod 2^63 in DECIMAL space: a BIGINT id·C
          // for ids above ~3.5e9 overflows — ANSI Spark throws, DuckDB
          // raises — so both engines compute (id·C) mod 2^63 exactly
          // (DECIMAL here, HUGEINT in the oracle); identity for every
          // non-overflowing id, well-defined at any id scale
          expr("CAST(pmod(CAST(user_id AS DECIMAL(38,0)) * 2654435761," +
            " 9223372036854775808) AS BIGINT) % 4294967296").as("h"))
        .as[(String, Long)]
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, List[Long]),
          (String, Long, Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (t, rows, state: GroupState[(Long, List[Long])]) =>
            var (n, mins) = state.getOption.getOrElse((0L, List.empty[Long]))
            rows.foreach { r =>
              n += 1
              if (!mins.contains(r._2)
                && (mins.length < 64 || r._2 < mins.last))
                mins = (r._2 :: mins).sorted.take(64)
            }
            state.update((n, mins))
            Iterator((t, n, mins.length.toLong,
              if (mins.length >= 64) mins.last else -1L))
        }
        .toDF("event_type", "n_seen", "nmins", "h64")
      runToParquet(scored).groupBy("event_type")
        .agg(max(struct(col("n_seen"), col("nmins"), col("h64")))
          .as("fin"))
        .select(col("event_type"), col("fin.n_seen").as("n_events"),
          round(when(col("fin.nmins") >= 64,
            lit(63.0) * 4294967296.0 / col("fin.h64"))
            .otherwise(col("fin.nmins").cast("double")), 4)
            .as("kmv_estimate"))
        .orderBy("event_type")
    }),

    // Streaming Bloom dedup over unique event_ids, SHARDED by a hash
    // prefix: shard = h0(id) mod 8 (the r9 single-state-group funnel
    // is gone — 8 state groups, one m=4096 k=3 bit-array shard each,
    // so at cluster scale the state distributes across tasks; raise
    // the shard count with throughput). A row is flagged when all 3
    // of ITS SHARD's bits are already set before its own insertion —
    // with unique ids every flag is a false positive. The batch twin
    // reconstructs min-setter ranks per (shard, bit).
    "s_stream_bloom_dedup" -> ((s, d) => {
      import s.implicits._
      val ev = readEventsStream(s, stageTable(d, "events"))
        .select(
          expr("CAST(pmod(CAST(event_id AS DECIMAL(38,0)) * 2654435761," +
            " 9223372036854775808) AS BIGINT) % 8").as("shard"),
          col("event_id"), unix_micros(col("ts")).as("ts_us"))
        .as[(Long, Long, Long)]
      val ps = Array(2654435761L, 2246822519L, 3266489917L)
      val qs = Array(1L, 7L, 13L)
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long, Array[Byte]),
          (Long, Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (sh, rows, state: GroupState[(Long, Long, Array[Byte])]) =>
            var (n, fl, bits) = state.getOption
              .getOrElse((0L, 0L, new Array[Byte](4096)))
            rows.toArray.sortBy(r => (r._3, r._2)).foreach { r =>
              // low-63-bit mask before the mods: keeps the wrapped
              // product non-negative (bits() index) and equal to the
              // oracle's HUGEINT & 2^63−1 at any id scale
              val hs = (0 to 2).map(j =>
                (((r._2 * ps(j) + qs(j)) & 0x7FFFFFFFFFFFFFFFL)
                  % 2147483647L % 4096L).toInt)
              if (hs.forall(bits(_) == 1)) fl += 1
              hs.foreach(bits(_) = 1)
              n += 1
            }
            state.update((n, fl, bits))
            Iterator((sh, n, fl))
        }
        .toDF("shard", "n", "fl")
      runToParquet(scored, singleBatch = true).groupBy("shard")
        .agg(max(struct(col("n"), col("fl"))).as("fin"))
        .agg(sum(col("fin.n")).as("n_events"),
          sum(col("fin.fl")).as("n_flagged"))
        .select(col("n_events"), col("n_flagged"),
          round(col("n_flagged").cast("double") / col("n_events"), 6)
            .as("fp_rate"))
    }),

    // Streaming lag-1 autocorrelation per type: O(1) moment state
    // over consecutive centi-value pairs in (ts, event_id) order;
    // the read-back assembles Pearson r of (v_t, v_{t−1}).
    "s_stream_lag1_autocorr" -> ((s, d) => {
      import s.implicits._
      val ev = readEventsStream(s, stageTable(d, "events"))
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), round(col("value") * 100).cast("long").as("v"))
        .as[(String, Long, Long, Long)]
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[
          (Long, Long, Long, Long, Long, Long, Long),
          (String, Long, Long, Long, Long, Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (t, rows, state: GroupState[
              (Long, Long, Long, Long, Long, Long, Long)]) =>
            var (n, prev, sa, sb, sab, saa, sbb) = state.getOption
              .getOrElse((0L, 0L, 0L, 0L, 0L, 0L, 0L))
            rows.toArray.sortBy(r => (r._2, r._3)).foreach { r =>
              if (n > 0) {
                sa += r._4; sb += prev; sab += r._4 * prev
                saa += r._4 * r._4; sbb += prev * prev
              }
              prev = r._4; n += 1
            }
            state.update((n, prev, sa, sb, sab, saa, sbb))
            Iterator((t, n - 1, sa, sb, sab, saa, sbb))
        }
        .toDF("event_type", "m", "sa", "sb", "sab", "saa", "sbb")
      runToParquet(scored, singleBatch = true).groupBy("event_type")
        .agg(max(struct(col("m"), col("sa"), col("sb"), col("sab"),
          col("saa"), col("sbb"))).as("f"))
        .filter(col("f.m") > 1
          && col("f.m") * col("f.saa") > col("f.sa") * col("f.sa")
          && col("f.m") * col("f.sbb") > col("f.sb") * col("f.sb"))
        .select(col("event_type"), col("f.m").as("n_pairs"),
          round((col("f.m") * col("f.sab") - col("f.sa") * col("f.sb"))
            .cast("double")
            / sqrt((col("f.m") * col("f.saa")
                - col("f.sa") * col("f.sa")).cast("double")
              * (col("f.m") * col("f.sbb")
                - col("f.sb") * col("f.sb")).cast("double")), 6)
            .as("lag1_autocorr"))
        .orderBy("event_type")
    }),

    // Streaming integer EMA (α=1/2 with floor division, stated):
    // e ← (v + e) DIV 2 per row — an exactly-reproducible recurrence;
    // the oracle steps the identical recurrence in a recursive CTE.
    "s_stream_ema_int" -> ((s, d) => {
      import s.implicits._
      val ev = readEventsStream(s, stageTable(d, "events"))
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), round(col("value") * 100).cast("long").as("v"))
        .as[(String, Long, Long, Long)]
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long), (String, Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (t, rows, state: GroupState[(Long, Long)]) =>
            var (n, e) = state.getOption.getOrElse((0L, 0L))
            rows.toArray.sortBy(r => (r._2, r._3)).foreach { r =>
              e = if (n == 0) r._4 else (r._4 + e) / 2
              n += 1
            }
            state.update((n, e))
            Iterator((t, n, e))
        }
        .toDF("event_type", "n", "e")
      runToParquet(scored, singleBatch = true).groupBy("event_type")
        .agg(max(struct(col("n"), col("e"))).as("f"))
        .select(col("event_type"), col("f.n").as("n_events"),
          round(col("f.e") / 100.0, 2).as("ema_final"))
        .orderBy("event_type")
    }),

    // Streaming inter-arrival stats per type on the seconds grid
    // (g = Δµs DIV 1e6, stated): O(1) state (last, n, Σg, Σg²);
    // read-back = mean gap + burstiness (the q_interevent_burstiness
    // twin at the coarser grid).
    "s_stream_interarrival" -> ((s, d) => {
      import s.implicits._
      val ev = readEventsStream(s, stageTable(d, "events"))
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"))
        .as[(String, Long, Long)]
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long, Long, Long),
          (String, Long, Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (t, rows, state: GroupState[(Long, Long, Long, Long)]) =>
            var (n, last, sg, sgg) = state.getOption
              .getOrElse((0L, 0L, 0L, 0L))
            rows.toArray.sortBy(r => (r._2, r._3)).foreach { r =>
              if (n > 0) {
                val g = (r._2 - last) / 1000000L
                sg += g; sgg += g * g
              }
              last = r._2; n += 1
            }
            state.update((n, last, sg, sgg))
            Iterator((t, n - 1, sg, sgg))
        }
        .toDF("event_type", "ng", "sg", "sgg")
      runToParquet(scored, singleBatch = true).groupBy("event_type")
        .agg(max(struct(col("ng"), col("sg"), col("sgg"))).as("f"))
        .withColumn("mu", col("f.sg").cast("double") / col("f.ng"))
        .withColumn("sd", sqrt(col("f.sgg").cast("double") / col("f.ng")
          - col("mu") * col("mu")))
        .filter(col("f.ng") > 1 && col("sd") + col("mu") > 0)
        .select(col("event_type"), col("f.ng").as("n_gaps"),
          round(col("mu"), 6).as("mean_gap_s"),
          round((col("sd") - col("mu")) / (col("sd") + col("mu")), 6)
            .as("burstiness"))
        .orderBy("event_type")
    }),

    // Streaming last-50 distinct users per type: 50-slot ring state;
    // read-back = distinct count of the final ring (the batch twin is
    // the DESC row_number ≤ 50 distinct).
    "s_stream_lastk_distinct" -> ((s, d) => {
      import s.implicits._
      val ev = readEventsStream(s, stageTable(d, "events"))
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("user_id"))
        .as[(String, Long, Long, Long)]
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, List[Long]),
          (String, Long, Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (t, rows, state: GroupState[(Long, List[Long])]) =>
            var (n, ring) = state.getOption
              .getOrElse((0L, List.empty[Long]))
            rows.toArray.sortBy(r => (r._2, r._3)).foreach { r =>
              ring = (ring :+ r._4).takeRight(50)
              n += 1
            }
            state.update((n, ring))
            // n is the monotone emission key — the read-back takes
            // the final micro-batch's ring by max(n)
            Iterator((t, n, ring.length.toLong,
              ring.distinct.length.toLong))
        }
        .toDF("event_type", "n", "ring_n", "nd")
      runToParquet(scored, singleBatch = true).groupBy("event_type")
        .agg(max(struct(col("n"), col("ring_n"), col("nd"))).as("f"))
        .select(col("event_type"), col("f.ring_n").as("ring_size"),
          col("f.nd").as("distinct_last50"))
        .orderBy("event_type")
    }),

    // Streaming k=64 min-priority reservoir per type: state = the 64
    // smallest (priority, id, centi-value) triples + a rows-seen
    // counter. Read-back = final reservoir size + sample mean.
    "s_stream_reservoir" -> ((s, d) => {
      import s.implicits._
      val ev = readEventsStream(s, stageTable(d, "events"))
        .select(col("event_type"), col("event_id"),
          // mod-2^63 DECIMAL reduction (ANSI-safe at any id scale;
          // HUGEINT in the oracle — the s_stream_kmv pattern)
          expr("CAST(pmod(CAST(event_id AS DECIMAL(38,0))" +
            " * 2654435761, 9223372036854775808) AS BIGINT)").as("pr"),
          round(col("value") * 100).cast("long").as("vc"))
        .as[(String, Long, Long, Long)]
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, List[(Long, Long, Long)]),
          (String, Long, Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (t, rows, state: GroupState[(Long, List[(Long, Long, Long)])]) =>
            var (n, res) = state.getOption
              .getOrElse((0L, List.empty[(Long, Long, Long)]))
            rows.foreach { r =>
              n += 1
              val cand = (r._3, r._2, r._4)
              if (res.length < 64 || implicitly[Ordering[(Long, Long)]]
                  .lt((cand._1, cand._2), (res.last._1, res.last._2)))
                res = (cand :: res)
                  .sortBy(x => (x._1, x._2)).take(64)
            }
            state.update((n, res))
            Iterator((t, n, res.length.toLong, res.map(_._3).sum))
        }
        .toDF("event_type", "n", "k", "sv")
      runToParquet(scored).groupBy("event_type")
        .agg(max(struct(col("n"), col("k"), col("sv"))).as("f"))
        .select(col("event_type"), col("f.n").as("n_events"),
          col("f.k").as("k"),
          round(col("f.sv").cast("double") / col("f.k") / 100, 4)
            .as("sample_mean"))
        .orderBy("event_type")
    }),

    // Streaming HyperLogLog per type: state = the 64 exact ρ
    // registers (max-merge — ORDER-INDEPENDENT, the mergeable-sketch
    // property itself) + a rows-seen counter. The read-back feeds the
    // final registers through the SAME estimator as q_hll_exact
    // (StatsR10f.hllEstimate), so the full DuckDB oracle applies.
    "s_stream_hll" -> ((s, d) => {
      import s.implicits._
      val ev = readEventsStream(s, stageTable(d, "events"))
        .select(col("event_type"),
          expr("CAST(pmod(CAST(user_id AS DECIMAL(38,0)) * 2654435761," +
            " 9223372036854775808) AS BIGINT)").as("h"))
        .as[(String, Long)]
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Array[Byte]),
          (String, Long, Seq[Int])](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (t, rows, state: GroupState[(Long, Array[Byte])]) =>
            var (n, regs) = state.getOption
              .getOrElse((0L, new Array[Byte](64)))
            rows.foreach { r =>
              n += 1
              val b = (r._2 % 64L).toInt
              val rest = r._2 / 64L
              val rho = if (rest == 0L) 58
                else 58 - (64 - java.lang.Long.numberOfLeadingZeros(rest))
              if (rho > regs(b)) regs(b) = rho.toByte
            }
            state.update((n, regs))
            Iterator((t, n, regs.map(_.toInt).toSeq))
        }
        .toDF("event_type", "n", "regs")
      val fin = runToParquet(scored).groupBy("event_type")
        .agg(max(struct(col("n"), col("regs"))).as("f"))
        .select(col("event_type"), col("f.n").as("n_events"),
          posexplode(col("f.regs")).as(Seq("b", "m_reg")))
        .select(col("event_type"), col("n_events"),
          col("b").cast("long").as("b"), col("m_reg").cast("long").as("m_reg"))
      graft.queries.StatsR10f.hllEstimate(
          fin.select("event_type", "b", "m_reg"))
        .join(fin.select("event_type", "n_events").distinct(),
          "event_type")
        .select(col("event_type"), col("n_events"),
          col("nonzero_regs"), col("hll_estimate"))
        .orderBy("event_type")
    }),

    // Streaming priority sampling (Duffield–Lund–Thorup) per type:
    // state = rows-seen + exact Σw + the 51 LARGEST (q, id, w)
    // triples (q = w/u, u from the Knuth hash — identical to
    // q_pps_sample). Max-merge is order-independent, so the read-back
    // equals the batch priority rank regardless of batching; the
    // threshold estimator Σ max(w, τ) over the top-50 audits against
    // the exact streamed total.
    "s_stream_pps" -> ((s, d) => {
      import s.implicits._
      val ev = readEventsStream(s, stageTable(d, "events"))
        .select(col("event_type"), col("event_id"),
          round(col("value") * 100).cast("long").as("w"))
        .filter(col("w") > 0)
        .withColumn("u",
          expr("CAST(pmod(CAST(event_id AS DECIMAL(38,0))" +
            " * 2654435761, 9223372036854775808) + 1 AS DOUBLE)" +
            " / 9.223372036854776e18"))
        .select(col("event_type"), col("event_id"),
          col("w"), (col("w") / col("u")).as("q"))
        .as[(String, Long, Long, Double)]
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long, List[(Double, Long, Long)]),
          (String, Long, Long, Long, Double, Double)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (t, rows, state: GroupState[(Long, Long, List[(Double, Long, Long)])]) =>
            var (n, sw, top) = state.getOption
              .getOrElse((0L, 0L, List.empty[(Double, Long, Long)]))
            rows.foreach { r =>
              n += 1; sw += r._3
              val cand = (r._4, r._2, r._3)
              if (top.length < 51 || implicitly[Ordering[(Double, Long)]]
                  .lt((-cand._1, cand._2), (-top.last._1, top.last._2)))
                top = (cand :: top)
                  .sortBy(x => (-x._1, x._2)).take(51)
            }
            state.update((n, sw, top))
            val tau = if (top.length > 50) top.last._1 else 0.0
            val est = top.take(50)
              .map(x => math.max(x._3.toDouble, tau)).sum
            Iterator((t, n, sw, math.min(50, top.length).toLong,
              tau, est))
        }
        .toDF("event_type", "n", "sw", "k", "tau", "est")
      runToParquet(scored).groupBy("event_type")
        .agg(max(struct(col("n"), col("sw"), col("k"), col("tau"),
          col("est"))).as("f"))
        .select(col("event_type"), col("f.n").as("n_pop"),
          col("f.k").as("k"),
          round(col("f.sw") / 100.0, 2).as("true_total"),
          round(col("f.est") / 100.0, 2).as("pps_estimate"),
          round(abs(col("f.est") - col("f.sw")) / col("f.sw"), 6)
            .as("rel_err"))
        .orderBy("event_type")
    }),

    // Streaming SPRT per type (H0 p=0.4 vs H1 p=0.5 on the value >
    // 50.00 indicator, α=β=0.05): O(1) state = (rows seen, cumulative
    // snapped LLR, frozen decision + its row count + its LLR). The
    // LLR increments and the ±ln(19) bound live on the exact 1e9
    // integer grid, so the sequential fold is bit-reproducible.
    "s_stream_sprt" -> ((s, d) => {
      import s.implicits._
      val incA = math.round(math.log(1.25) * 1e9)
      val incB = math.round(math.log(5.0 / 6.0) * 1e9)
      val bound = math.round(math.log(19.0) * 1e9)
      val ev = readEventsStream(s, stageTable(d, "events"))
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), round(col("value") * 100).cast("long").as("vc"))
        .as[(String, Long, Long, Long)]
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long, Int, Long, Long),
          (String, Long, Long, Int, Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (t, rows, state: GroupState[(Long, Long, Int, Long, Long)]) =>
            var (rn, cum, dec, nDec, llrDec) = state.getOption
              .getOrElse((0L, 0L, 0, 0L, 0L))
            rows.toArray.sortBy(r => (r._2, r._3)).foreach { r =>
              rn += 1
              cum += (if (r._4 > 5000L) incA else incB)
              if (dec == 0) {
                if (cum >= bound) { dec = 1; nDec = rn; llrDec = cum }
                else if (cum <= -bound) { dec = 2; nDec = rn; llrDec = cum }
              }
            }
            state.update((rn, cum, dec, nDec, llrDec))
            Iterator((t, rn, cum, dec, nDec, llrDec))
        }
        .toDF("event_type", "rn", "cum", "dec", "n_dec", "llr_dec")
      runToParquet(scored, singleBatch = true).groupBy("event_type")
        .agg(max(struct(col("rn"), col("cum"), col("dec"),
          col("n_dec"), col("llr_dec"))).as("f"))
        .select(col("event_type"),
          when(col("f.dec") === 1, "accept_h1")
            .when(col("f.dec") === 2, "accept_h0")
            .otherwise("continue").as("decision"),
          when(col("f.dec") =!= 0, col("f.n_dec")).otherwise(col("f.rn"))
            .as("n_events"),
          round(when(col("f.dec") =!= 0, col("f.llr_dec"))
            .otherwise(col("f.cum"))
            .cast("double") / 1e9, 6).as("llr"))
        .orderBy("event_type")
    }),

    // Streaming SLO burn-rate monitor: state = per-HOUR exact
    // (events, errors) counters — count-merge commutes, so the state
    // is ORDER-INDEPENDENT; the read-back assembles the identical
    // multiwindow page/ticket table as q_slo_burn (whose oracle this
    // key reuses verbatim at the contract level).
    "s_stream_slo" -> ((s, d) => {
      import s.implicits._
      val ev = readEventsStream(s, stageTable(d, "events"))
        .select(unix_micros(date_trunc("hour", col("ts"))).as("hus"),
          when(col("event_type") === "error", 1L).otherwise(0L)
            .as("e"))
        .as[(Long, Long)]
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (h, rows, state: GroupState[(Long, Long)]) =>
            var (n, x) = state.getOption.getOrElse((0L, 0L))
            rows.foreach { r => n += 1; x += r._2 }
            state.update((n, x))
            Iterator((h, n, x))
        }
        .toDF("hus", "n", "x")
      // trailing RANGE frames on the hour epoch (matches q_slo_burn's
      // r10 ADVICE fix): sparse hours never stitch together.
      // bounded grain: input is the per-hour SLO rollup — one row per
      // hour-of-history, never corpus-sized
      val wo6 = org.apache.spark.sql.expressions.Window
        .orderBy("he").rangeBetween(-5, 0)
      val wo24 = org.apache.spark.sql.expressions.Window
        .orderBy("he").rangeBetween(-23, 0)
      runToParquet(scored).groupBy("hus")
        .agg(max(struct(col("n"), col("x"))).as("f"))
        .select(expr("timestamp_micros(hus)").as("h"),
          (col("hus") / lit(3600000000L)).cast("long").as("he"),
          col("f.n").as("n"), col("f.x").as("x"))
        .withColumn("n6", sum("n").over(wo6))
        .withColumn("x6", sum("x").over(wo6))
        .withColumn("n24", sum("n").over(wo24))
        .withColumn("x24", sum("x").over(wo24))
        .withColumn("b1", col("x").cast("double") / col("n") / 0.01)
        .withColumn("b6", col("x6").cast("double") / col("n6") / 0.01)
        .withColumn("b24",
          col("x24").cast("double") / col("n24") / 0.01)
        .select(col("h").cast("timestamp_ntz").as("h"), col("n"),
          col("x"),
          round(col("b1"), 4).as("burn_1h"),
          round(col("b6"), 4).as("burn_6h"),
          round(col("b24"), 4).as("burn_24h"),
          when(col("b1") > 14.4 && col("b6") > 14.4, 1L).otherwise(0L)
            .as("page"),
          when(col("b6") > 6.0 && col("b24") > 6.0, 1L).otherwise(0L)
            .as("ticket"))
        .orderBy("h")
    }),

    // Streaming log2 value histogram per type: state = counts per
    // power-of-two bucket (≤ 40 longs — count-merge commutes, so the
    // state is ORDER-INDEPENDENT); read-back rebuilds the exact
    // q_log2_hist table and reuses its oracle verbatim.
    "s_stream_log2_hist" -> ((s, d) => {
      import s.implicits._
      val ev = readEventsStream(s, stageTable(d, "events"))
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("v_c"))
        .filter(col("v_c") >= 1)
        .withColumn("bucket", (length(expr("bin(v_c)")) - 1)
          .cast("long"))
        .as[(String, Long, Long)]
      val scored = ev.groupByKey(_._1)
        .flatMapGroupsWithState[Map[Long, Long],
          (String, Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (t, rows, state: GroupState[Map[Long, Long]]) =>
            var m = state.getOption.getOrElse(Map.empty[Long, Long])
            rows.foreach { r =>
              m = m.updated(r._3, m.getOrElse(r._3, 0L) + 1) }
            state.update(m)
            m.iterator.map { case (b, n) => (t, b, n) }
        }
        .toDF("event_type", "bucket", "n")
      runToParquet(scored).groupBy("event_type", "bucket")
        .agg(max("n").as("n"))
        .select(col("event_type"), col("bucket"),
          expr("shiftleft(1L, cast(bucket as int))").as("lo"),
          (expr("shiftleft(1L, cast(bucket as int) + 1)") - 1).as("hi"),
          col("n"))
        .orderBy("event_type", "bucket")
    })
  )

  private val knuthHuge =
    "((CAST(event_id AS HUGEINT) * 2654435761) % 9223372036854775808)"

  val oracle: Map[String, String] = Map(
    // the doubled (2-copy staged input) counter table rebuilt from the
    // same md5 row hashes — cross-batch state merge proven by equality
    "s_stream_cms" ->
      """WITH it AS (
        |  SELECT event_type || '|' ||
        |    CAST(CAST(LEAST(FLOOR(value / 50), 9) AS BIGINT) AS VARCHAR)
        |    AS item
        |  FROM events),
        |rws AS (SELECT item, r
        |        FROM it, unnest(generate_series(0, 3)) t(r)),
        |h AS (SELECT r,
        |        CAST(CAST('0x' || substring(md5(CAST(r AS VARCHAR) || '|'
        |          || item), 1, 4) AS INT) % 256 AS INT) AS bkt
        |      FROM rws)
        |SELECT CAST(r AS INT) AS r, bkt, CAST(2 * COUNT(*) AS BIGINT) AS c
        |FROM h GROUP BY r, bkt ORDER BY r, bkt""".stripMargin,

    // the batch twin of the streaming state math: prefix window over
    // the same exact centi longs, warmup and alarm gates identical
    "s_stream_zscore" ->
      """WITH ev AS (
        |  SELECT event_type, ts, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v
        |  FROM events),
        |w AS (
        |  SELECT event_type, v,
        |    COUNT(*) OVER wp AS n,
        |    SUM(v) OVER wp AS s1,
        |    SUM(v * v) OVER wp AS s2
        |  FROM ev
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |sc AS (
        |  SELECT event_type,
        |    CASE WHEN s2 * n > s1 * s1
        |        AND abs((v - CAST(s1 AS DOUBLE) / n)
        |          / sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)))
        |          > 3.0
        |      THEN 1 ELSE 0 END AS alarm
        |  FROM w WHERE n >= 30)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_scored,
        |  CAST(SUM(alarm) AS BIGINT) AS n_alarms
        |FROM sc GROUP BY 1 ORDER BY event_type""".stripMargin,

    // the closed form of the CUSUM recursion: prefix sum + running
    // min over the same exact centi longs
    "s_stream_cusum" ->
      """WITH ev AS (
        |  SELECT event_type, ts, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v
        |  FROM events),
        |p AS (
        |  SELECT event_type, ts, event_id,
        |    SUM(v - 5200) OVER wp AS pp
        |  FROM ev
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |sp AS (
        |  SELECT event_type,
        |    pp - LEAST(0, MIN(pp) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW)) AS s_plus
        |  FROM p)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_scored,
        |  CAST(SUM(CASE WHEN s_plus > 100000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_alarms,
        |  ROUND(MAX(s_plus) / 100.0, 2) AS max_s_plus
        |FROM sp GROUP BY 1 ORDER BY event_type""".stripMargin,

    // prefix-max over ROWS ... 1 PRECEDING; NULL prev = first value
    // = new high (the key's stated convention)
    "s_stream_newhigh" ->
      """WITH ev AS (
        |  SELECT event_type, ts, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v
        |  FROM events),
        |w AS (
        |  SELECT event_type, v,
        |    MAX(v) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM ev)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN pm IS NULL OR v > pm THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_newhighs
        |FROM w GROUP BY 1 ORDER BY event_type""".stripMargin,

    // the batch top-3 per type — the commutative-merge argument in
    // the key's comment is why file order can't change this
    "s_stream_topk" ->
      """WITH r AS (
        |  SELECT event_type,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v_c, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(ROUND(value * 100) AS BIGINT) DESC, event_id)
        |      AS rank
        |  FROM events)
        |SELECT event_type, CAST(rank AS BIGINT) AS rank,
        |  ROUND(v_c / 100.0, 2) AS value, event_id
        |FROM r WHERE rank <= 3
        |ORDER BY event_type, rank""".stripMargin,

    "s_markov_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next
        |  FROM events)
        |SELECT cur, next, COUNT(*) AS n FROM p
        |WHERE next IS NOT NULL GROUP BY 1, 2 ORDER BY cur, next""".stripMargin,

    // the batch asof twin: running MAX of click µs over the same
    // (ts, event_id) order, 1-h tolerance, one row per purchase
    "s_stream_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
        |    CAST(CAST(ts AS DATE) AS VARCHAR) AS d
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |w AS (
        |  SELECT event_type, d, ts_us,
        |    MAX(CASE WHEN event_type = 'click' THEN ts_us END)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS last_click
        |  FROM ev)
        |SELECT d, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(CASE WHEN last_click IS NOT NULL
        |    AND ts_us - last_click <= 3600000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_matched
        |FROM w WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY d""".stripMargin,

    // prefix-max (including current) over the same exact centi longs
    "s_stream_drawdown" ->
      """WITH ev AS (
        |  SELECT event_type, ts, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v
        |  FROM events),
        |w AS (
        |  SELECT event_type,
        |    MAX(v) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - v
        |      AS dd
        |  FROM ev)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  ROUND(MAX(dd) / 100.0, 2) AS max_dd,
        |  CAST(SUM(CASE WHEN dd > 2000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_alarms
        |FROM w GROUP BY 1 ORDER BY event_type""".stripMargin,

    // lag window over the same order; first event gap 0 (COALESCE)
    "s_stream_gap_alarm" ->
      """WITH ev AS (
        |  SELECT event_type, ts, event_id, epoch_us(ts) AS ts_us
        |  FROM events),
        |w AS (
        |  SELECT event_type,
        |    COALESCE(ts_us - lag(ts_us) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id), 0) AS gap_us
        |  FROM ev)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN gap_us > 3600000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_gaps,
        |  ROUND(MAX(gap_us) / 1e6, 2) AS max_gap_sec
        |FROM w GROUP BY 1 ORDER BY event_type""".stripMargin,

    // the batch ratio over the same exact centi longs (unit volume)
    "s_stream_vwap" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  ROUND(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
        |    AS DOUBLE) / COUNT(*) / 100, 4) AS vwap
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    // batch ROWS 20 PRECEDING..1 PRECEDING twin of the ring state,
    // identical cleared variance gate and ±2sd test
    "s_stream_ring_zscore" ->
      """WITH ev AS (
        |  SELECT event_type, ts, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v
        |  FROM events),
        |w AS (
        |  SELECT event_type, v,
        |    COUNT(*) OVER wr AS nw,
        |    CAST(SUM(v) OVER wr AS BIGINT) AS s1,
        |    CAST(SUM(v * v) OVER wr AS BIGINT) AS s2
        |  FROM ev
        |  WINDOW wr AS (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
        |a AS (
        |  SELECT event_type,
        |    CASE WHEN nw = 20 AND 20 * s2 > s1 * s1
        |      AND (20 * v - s1) * (20 * v - s1)
        |        > 4 * (20 * s2 - s1 * s1)
        |      THEN 1 ELSE 0 END AS alarm
        |  FROM w)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_scored,
        |  CAST(SUM(alarm) AS BIGINT) AS n_alarms
        |FROM a GROUP BY 1 ORDER BY event_type""".stripMargin,

    // the batch KMV twin (q_kmv_distinct formula, estimate only)
    "s_stream_kmv" ->
      """WITH hv AS (
        |  SELECT DISTINCT event_type,
        |    ((CAST(user_id AS HUGEINT) * 2654435761)
        |      % 9223372036854775808) % 4294967296 AS h
        |  FROM events),
        |rk AS (
        |  SELECT event_type, h,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY h)
        |      AS BIGINT) AS rk,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS nh
        |  FROM hv),
        |cnt AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1)
        |SELECT rk.event_type, cnt.n_events,
        |  ROUND(CASE WHEN nh >= 64 THEN 63.0 * 4294967296.0 / h
        |    ELSE CAST(nh AS DOUBLE) END, 4) AS kmv_estimate
        |FROM rk JOIN cnt ON rk.event_type = cnt.event_type
        |WHERE (nh >= 64 AND rk = 64) OR (nh < 64 AND rk = nh)
        |ORDER BY rk.event_type""".stripMargin,

    // the batch twin: min-setter rank per (shard, bit), flagged iff
    // all 3 of the row's SHARD bits were set strictly earlier
    "s_stream_bloom_dedup" ->
      """WITH js AS (SELECT UNNEST([0, 1, 2]) AS j),
        |ev AS (
        |  SELECT event_id,
        |    ((CAST(event_id AS HUGEINT) * 2654435761)
        |      % 9223372036854775808) % 8 AS shard,
        |    CAST(row_number() OVER (
        |      PARTITION BY ((CAST(event_id AS HUGEINT) * 2654435761)
        |        % 9223372036854775808) % 8
        |      ORDER BY epoch_us(ts), event_id) AS BIGINT) AS rn
        |  FROM events),
        |bh AS (
        |  SELECT ev.event_id, ev.shard, ev.rn, js.j,
        |    ((CAST(ev.event_id AS HUGEINT)
        |      * (CASE js.j WHEN 0 THEN 2654435761
        |        WHEN 1 THEN 2246822519 ELSE 3266489917 END)
        |      + (CASE js.j WHEN 0 THEN 1 WHEN 1 THEN 7 ELSE 13 END))
        |      & 9223372036854775807)
        |      % 2147483647 % 4096 AS h
        |  FROM ev, js),
        |mb AS (SELECT shard, h, MIN(rn) AS mr FROM bh GROUP BY 1, 2),
        |fl AS (
        |  SELECT bh.event_id
        |  FROM bh JOIN mb ON bh.shard = mb.shard AND bh.h = mb.h
        |  GROUP BY bh.event_id, bh.shard, bh.rn
        |  HAVING SUM(CASE WHEN mb.mr < bh.rn THEN 1 ELSE 0 END) = 3),
        |ag AS (
        |  SELECT
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n_events,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM fl) AS n_flagged)
        |SELECT n_events, n_flagged,
        |  ROUND(CAST(n_flagged AS DOUBLE) / n_events, 6) AS fp_rate
        |FROM ag""".stripMargin,

    // the batch lag-window twin
    "s_stream_lag1_autocorr" ->
      """WITH sq AS (
        |  SELECT event_type,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v,
        |    lag(CAST(ROUND(value * 100) AS BIGINT))
        |      OVER (PARTITION BY event_type
        |        ORDER BY epoch_us(ts), event_id) AS pv
        |  FROM events),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m,
        |    SUM(v) AS sa, SUM(pv) AS sb, SUM(v * pv) AS sab,
        |    SUM(v * v) AS saa, SUM(pv * pv) AS sbb
        |  FROM sq WHERE pv IS NOT NULL GROUP BY 1)
        |SELECT event_type, m AS n_pairs,
        |  ROUND(CAST(m * sab - sa * sb AS DOUBLE)
        |    / sqrt(CAST(m * saa - sa * sa AS DOUBLE)
        |      * CAST(m * sbb - sb * sb AS DOUBLE)), 6)
        |    AS lag1_autocorr
        |FROM ag
        |WHERE m > 1 AND m * saa > sa * sa AND m * sbb > sb * sb
        |ORDER BY event_type""".stripMargin,

    // the recursive-CTE twin of the integer EMA recurrence
    "s_stream_ema_int" ->
      """WITH RECURSIVE sq AS (
        |  SELECT event_type,
        |    CAST(ROUND(value * 100) AS BIGINT) AS v,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY epoch_us(ts), event_id) AS BIGINT) AS rn
        |  FROM events),
        |r AS (
        |  SELECT event_type, rn, v AS e FROM sq WHERE rn = 1
        |  UNION ALL
        |  SELECT sq.event_type, sq.rn, (sq.v + r.e) // 2
        |  FROM r JOIN sq ON sq.event_type = r.event_type
        |    AND sq.rn = r.rn + 1),
        |fin AS (
        |  SELECT event_type, MAX(rn) AS n FROM sq GROUP BY 1)
        |SELECT r.event_type, fin.n AS n_events,
        |  ROUND(r.e / 100.0, 2) AS ema_final
        |FROM r JOIN fin ON r.event_type = fin.event_type
        |  AND r.rn = fin.n
        |ORDER BY r.event_type""".stripMargin,

    // the batch seconds-grid gap twin
    "s_stream_interarrival" ->
      """WITH g AS (
        |  SELECT event_type, (tu - pt) // 1000000 AS g
        |  FROM (SELECT event_type, epoch_us(ts) AS tu,
        |          lag(epoch_us(ts)) OVER (PARTITION BY event_type
        |            ORDER BY epoch_us(ts), event_id) AS pt
        |        FROM events)
        |  WHERE pt IS NOT NULL),
        |ag AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ng,
        |    SUM(g) AS sg, SUM(g * g) AS sgg
        |  FROM g GROUP BY 1),
        |st AS (
        |  SELECT event_type, ng,
        |    CAST(sg AS DOUBLE) / ng AS mu,
        |    sqrt(CAST(sgg AS DOUBLE) / ng
        |      - (CAST(sg AS DOUBLE) / ng) * (CAST(sg AS DOUBLE) / ng))
        |      AS sd
        |  FROM ag)
        |SELECT event_type, ng AS n_gaps,
        |  ROUND(mu, 6) AS mean_gap_s,
        |  ROUND((sd - mu) / (sd + mu), 6) AS burstiness
        |FROM st WHERE ng > 1 AND sd + mu > 0
        |ORDER BY event_type""".stripMargin,

    // the batch DESC-rank twin
    "s_stream_lastk_distinct" ->
      """WITH rk AS (
        |  SELECT event_type, user_id,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS BIGINT)
        |      AS rn
        |  FROM events)
        |SELECT event_type,
        |  CAST(SUM(CASE WHEN rn <= 50 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS ring_size,
        |  CAST(COUNT(DISTINCT CASE WHEN rn <= 50 THEN user_id END)
        |    AS BIGINT) AS distinct_last50
        |FROM rk GROUP BY 1
        |ORDER BY event_type""".stripMargin,

    // the batch min-priority rank twin
    "s_stream_reservoir" ->
      s"""WITH ev AS (
        |  SELECT event_type, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS vc,
        |    $knuthHuge AS pr
        |  FROM events),
        |rk AS (
        |  SELECT event_type, vc,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY pr, event_id) AS rk
        |  FROM ev)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN rk <= 64 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS k,
        |  ROUND(CAST(SUM(CASE WHEN rk <= 64 THEN vc ELSE 0 END)
        |      AS DOUBLE)
        |    / SUM(CASE WHEN rk <= 64 THEN 1 ELSE 0 END) / 100, 4)
        |    AS sample_mean
        |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin,

    // the batch register math verbatim (StatsR10f.hllOracle) — the
    // streaming max-merge registers ARE the batch registers
    "s_stream_hll" ->
      s"""${graft.queries.StatsR10f.hllOracle},
        |cnt AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1)
        |SELECT est.event_type, cnt.n_events,
        |  CAST(est.nonzero_regs AS BIGINT) AS nonzero_regs,
        |  ROUND(est.e, 4) AS hll_estimate
        |FROM est JOIN cnt ON est.event_type = cnt.event_type
        |ORDER BY est.event_type""".stripMargin,

    // the batch priority-sampling twin verbatim — the streaming
    // max-merge state reconstructs exactly the batch priority rank
    "s_stream_pps" -> graft.queries.StatsR10.oracle("q_pps_sample"),

    // the batch first-crossing twin (identical snapped grid): decided
    // types report the frozen (n, llr) at the crossing; 'continue'
    // types report the final row count and final cumulative LLR
    "s_stream_sprt" ->
      """WITH sq AS (
        |  SELECT event_type,
        |    CASE WHEN CAST(ROUND(value * 100) AS BIGINT) > 5000
        |      THEN CAST(ROUND(LN(1.25) * 1e9) AS BIGINT)
        |      ELSE CAST(ROUND(LN(5.0 / 6.0) * 1e9) AS BIGINT) END
        |      AS inc,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY epoch_us(ts), event_id) AS BIGINT) AS rn
        |  FROM events),
        |cm AS (
        |  SELECT event_type, rn,
        |    SUM(inc) OVER (PARTITION BY event_type ORDER BY rn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum,
        |    CAST(ROUND(LN(19.0) * 1e9) AS BIGINT) AS b
        |  FROM sq),
        |crossed AS (
        |  SELECT event_type,
        |    CASE WHEN cum >= b THEN 'accept_h1'
        |      ELSE 'accept_h0' END AS decision,
        |    rn AS n_events, ROUND(cum / 1e9, 6) AS llr,
        |    row_number() OVER (PARTITION BY event_type ORDER BY rn)
        |      AS crn
        |  FROM cm WHERE cum >= b OR cum <= -b),
        |finals AS (
        |  SELECT event_type, 'continue' AS decision, rn AS n_events,
        |    ROUND(cum / 1e9, 6) AS llr,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY rn DESC) AS lrn
        |  FROM cm
        |  WHERE event_type NOT IN (SELECT event_type FROM crossed))
        |SELECT event_type, decision, n_events, llr FROM crossed
        |WHERE crn = 1
        |UNION ALL
        |SELECT event_type, decision, n_events, llr FROM finals
        |WHERE lrn = 1
        |ORDER BY event_type""".stripMargin,

    // the q_slo_burn batch oracle verbatim — hourly count-merge state
    // reconstructs the identical hour grid
    "s_stream_slo" -> graft.queries.StatsR10q.oracle("q_slo_burn"),

    // the q_log2_hist batch oracle verbatim — per-bucket count-merge
    // state reconstructs the identical histogram
    "s_stream_log2_hist" -> graft.queries.StatsR9p.oracle("q_log2_hist")
  )
}
