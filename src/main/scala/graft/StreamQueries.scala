package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Row/state types for the stateful sessionizer (top-level for
  * Encoder derivation).
  */
case class SessEvent(user_id: Long, event_id: Long, ts_us: Long)
case class SessState(sessionId: Long, lastTs: Long)
case class SessAssign(user_id: Long, event_id: Long, session_id: Long)

/** Rows/outputs for the streaming HLL maintainer (G7). */
case class SketchRow(shard: Long, item: Long)
case class SketchEstimate(shard: Long, approx_items: Long)

/** Rows/outputs for the streaming KLL maintainer (G10). */
case class QuantRow(shard: Long, value: Double)
case class QuantEstimate(shard: Long, n_seen: Long, approx_p50: Double)

/** Output for the streaming CMS maintainer (G11). */
case class FreqEstimate(shard: Long, probe_est: Long)

/** Rows/outputs for the streaming Misra-Gries maintainer (G12). */
case class TokRow(shard: Long, tok: String)
case class TopkState(shard: Long, summary: Map[String, Long])

/** Rows/outputs for the streaming text-gate maintainer (G18). */
case class GateDoc(source: String, doc_id: Long, text: String)
case class GateSummary(source: String, n_docs: Long, n_kept: Long,
    kept_tokens: Long)

/** Rows/state/outputs for the streaming sequence packer (G19). */
case class PackDoc(source: String, doc_id: Long, n_tokens: Long)
case class PackState(bin: Long, fill: Long)
case class PackAssign(source: String, doc_id: Long, n_tokens: Long,
    bin_id: Long)

/** Rows/outputs for the streaming CDC-apply maintainer (G20). */
case class DocIn(doc_id: Long, h: String)
case class DocDecision(doc_id: Long, admitted: Boolean, canonical_id: Long)

/** Rows/state/outputs for the streaming gap/silence detector (G26). */
case class GapEvent(event_type: String, event_id: Long, ts_us: Long,
    ts: java.sql.Timestamp)
case class GapState(last_ts_us: Long, n_events: Long, n_gaps: Long,
    max_gap_us: Long)
case class GapReport(event_type: String, n_events: Long, n_gaps: Long,
    max_gap_min: Double, silent_alert: Boolean)

/** Rows/state/outputs for the streaming token-bucket limiter (G25). */
case class RateEvent(event_type: String, event_id: Long, ts_us: Long)
case class RateState(credit_us: Long, last_ts_us: Long, n_admit: Long,
    n_throttle: Long)
case class RateSummary(event_type: String, n_events: Long, n_admitted: Long,
    n_throttled: Long)

/** Rows/state/outputs for the streaming late-data auditor (G24). */
case class LateEvent(event_type: String, arrival_seq: Long, ts_us: Long)
case class LateState(max_ts_us: Long, n_events: Long, n_late: Long)
case class LateSummary(event_type: String, n_events: Long, n_late: Long)

/** Rows/state/outputs for the streaming EWMA anomaly maintainer (G23). */
case class EwmaEvent(event_type: String, event_id: Long, ts_us: Long,
    value: Double)
case class EwmaState(buf: List[Double], n_scored: Long, n_anom: Long,
    max_dev: Double)
case class EwmaSummary(event_type: String, n_scored: Long, n_anom: Long,
    max_dev: Double)

/** Rows/state/outputs for the streaming CUSUM monitor (G29). */
case class CusumEvent(event_type: String, event_id: Long, ts_us: Long,
    v_cents: Long)
case class CusumState(s: Long, n_alarms: Long, max_s: Long, n: Long)
case class CusumSummary(event_type: String, n_events: Long, n_alarms: Long,
    max_s_cents: Long, final_s_cents: Long)

/** Rows/state/outputs for the streaming PSI drift monitor (G30). */
case class PsiEvent(event_type: String, day: Long, bin: Long)
case class PsiState(d0: Long, day: Long, ref: Seq[Long], counts: Seq[Long])
case class PsiDaySummary(event_type: String, day_idx: Long, n_events: Long,
    psi: Double)

/** Rows/state/outputs for the streaming funnel maintainer (G28). */
case class FunnelEvent(user_id: Long, event_type: String, ts_us: Long)
case class FunnelState(t_view: Long, t_click: Long, t_purchase: Long,
    n_events: Long)
case class FunnelRow(user_id: Long, funnel_stage: Long, n_events: Long)

case class CdcEvent(user_id: Long, event_id: Long, ts_us: Long, op: String,
    value: Double)
case class CdcSnap(user_id: Long, last_event_id: Long, last_ts_us: Long,
    deleted: Boolean, value: Double, n_ops: Long)

/** Structured Streaming suite (SURVEY §2.G). Each operator has (a) a
  * batch-equivalent DataFrame the driver verifies against the DuckDB
  * oracle, and (b) a genuine streaming builder applied to a streaming
  * DataFrame — exercised with MemoryStream in StreamingSpec, asserting
  * stream output == batch output on the same rows.
  */
object StreamQueries {

  /** G29 CUSUM constants: reference k = $90.00, alarm h = $250.00. */
  val CusumRefCents = 9000L
  val CusumAlarmCents = 25000L

  /** Streaming transform: 6-hour tumbling window counts/sums per
    * event type, watermarked for state cleanup at scale.
    */
  def windowAggStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").cast("timestamp_ntz").as("bucket"), col("event_type"),
        col("n"), col("total_value"))

  // G1 batch equivalent — identical logic, no watermark.
  private def streamWindowAgg(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").cast("timestamp_ntz").as("bucket"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy(col("bucket"), col("event_type"))

  // DuckDB time_bucket epoch-aligns 6h buckets exactly like Spark's
  // window() (epoch offset of the default origin is a multiple of 6h).
  private val streamWindowAggSql =
    """SELECT time_bucket(INTERVAL '6 hours', ts) AS bucket, event_type,
      | count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events GROUP BY bucket, event_type
      |ORDER BY bucket, event_type""".stripMargin

  /** Streaming transform (G27): SLIDING 6-hour windows every 2 hours —
    * each event contributes to THREE overlapping windows (G1 is the
    * tumbling special case). Spark expands the row to its member
    * windows map-side and the shuffle carries (window, type) partial
    * aggregates, so overlap multiplies map output, never state: with
    * watermarking, state holds only the ≤3 open windows per type.
    */
  def slidingWindowStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours", "2 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").cast("timestamp_ntz").as("bucket"),
        col("event_type"), col("n"), col("total_value"))

  // G27 batch equivalent — identical logic, no watermark.
  private def streamSlidingWindow(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(window(col("ts"), "6 hours", "2 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").cast("timestamp_ntz").as("bucket"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy(col("bucket"), col("event_type"))

  // DuckDB replays the window expansion arithmetically: an event at
  // ts belongs to the 3 slide-aligned starts time_bucket(2h, ts) −
  // k·2h, k ∈ {0,1,2} (every such window covers ts because slide
  // divides length exactly 3×).
  private val streamSlidingWindowSql =
    """SELECT time_bucket(INTERVAL '2 hours', ts) - k * INTERVAL '2 hours'
      |   AS bucket,
      | event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events, (SELECT unnest(generate_series(0, 2)) AS k)
      |GROUP BY bucket, event_type
      |ORDER BY bucket, event_type""".stripMargin

  /** G28 — STREAMING FUNNEL state. The funnel definition is chosen to
    * be MERGEABLE (the property that makes it incrementally
    * maintainable at all): per user keep only the MIN event time per
    * stage type — three longs of state, merge = elementwise min, so
    * arrival order and batch boundaries cannot change the answer —
    * and derive the stage from the mins: reached stage 2 iff the
    * first click is at/after the first view, stage 3 iff the first
    * purchase is at/after that first click. (A "first click after
    * the first view" variant needs unbounded per-user history — the
    * classic non-mergeable funnel trap.) n_events strictly increases
    * per key, giving tests a latest-update handle.
    */
  class FunnelProcessor
      extends StatefulProcessor[Long, FunnelEvent, FunnelRow] {
    @transient private var state: ValueState[FunnelState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[FunnelState]("funnel",
        org.apache.spark.sql.Encoders.product[FunnelState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[FunnelEvent],
        timers: TimerValues): Iterator[FunnelRow] = {
      val M = Long.MaxValue
      var s = if (state.exists()) state.get() else FunnelState(M, M, M, 0L)
      rows.foreach { e =>
        s = e.event_type match {
          case "view" => s.copy(t_view = math.min(s.t_view, e.ts_us),
            n_events = s.n_events + 1)
          case "click" => s.copy(t_click = math.min(s.t_click, e.ts_us),
            n_events = s.n_events + 1)
          case "purchase" => s.copy(t_purchase = math.min(s.t_purchase, e.ts_us),
            n_events = s.n_events + 1)
          case _ => s.copy(n_events = s.n_events + 1)
        }
      }
      state.update(s)
      Iterator.single(FunnelRow(key, FunnelProcessor.stageOf(s), s.n_events))
    }
  }

  object FunnelProcessor {
    def stageOf(s: FunnelState): Long = {
      val M = Long.MaxValue
      if (s.t_view == M) 0L
      else if (s.t_click == M || s.t_click < s.t_view) 1L
      else if (s.t_purchase == M || s.t_purchase < s.t_click) 2L
      else 3L
    }
  }

  def funnelStream(events: Dataset[FunnelEvent]): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  // G28 batch equivalent — per-user min-per-type (one hash agg; the
  // mergeability above is exactly what makes this the same number),
  // stage derivation, then the stage histogram.
  private def streamFunnel(s: SparkSession, dir: String): DataFrame = {
    val mins = Tables.load(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts"))).as("tv"),
        min(when(col("event_type") === "click", col("ts"))).as("tc"),
        min(when(col("event_type") === "purchase", col("ts"))).as("tp"))
    mins
      .withColumn("funnel_stage",
        when(col("tv").isNull, 0L)
          .when(col("tc").isNull || col("tc") < col("tv"), 1L)
          .when(col("tp").isNull || col("tp") < col("tc"), 2L)
          .otherwise(3L))
      .groupBy(col("funnel_stage"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("funnel_stage"))
  }

  private val streamFunnelSql =
    """WITH mins AS (
      | SELECT user_id,
      |  min(CASE WHEN event_type = 'view' THEN ts END) AS tv,
      |  min(CASE WHEN event_type = 'click' THEN ts END) AS tc,
      |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
      | FROM events GROUP BY user_id),
      |st AS (
      | SELECT CASE WHEN tv IS NULL THEN 0
      |   WHEN tc IS NULL OR tc < tv THEN 1
      |   WHEN tp IS NULL OR tp < tc THEN 2
      |   ELSE 3 END AS funnel_stage
      | FROM mins)
      |SELECT funnel_stage, count(*) AS n_users
      |FROM st GROUP BY funnel_stage ORDER BY funnel_stage""".stripMargin

  /** Streaming transform: first event per (user, event_type) within
    * the watermark — streaming dropDuplicates.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("event_id").as("first_event_id"),
        col("ts").cast("timestamp_ntz").as("first_ts"))

  /** Streaming transform (G15): bounded-state dedup —
    * `dropDuplicatesWithinWatermark` keeps per-key state only until
    * the watermark passes the kept event's time + delay, so state size
    * is bounded by the key-arrival rate × delay window instead of
    * growing with every key ever seen (G2's plain dropDuplicates keeps
    * state forever). A duplicate within the delay of the kept event is
    * suppressed; one arriving after eviction re-emits — the documented
    * trade for bounded state.
    */
  def dedupWithinWatermarkStream(events: DataFrame, delay: String = "6 hours"): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts").cast("timestamp_ntz").as("ts"))

  // G15 batch equivalent — the deterministic closed-form model of the
  // within-watermark semantics (watermark advancing instantly): per
  // (user, type) an event is KEPT iff it is the first, or lies more
  // than the delay after the last kept event (dropped duplicates do
  // NOT extend the epoch — state anchors at the kept event's time,
  // exactly like the operator's state expiration). The fold is one
  // codegen'd HOF over each key's sorted events; the oracle replays it
  // as a per-key recursive walk.
  private def streamDedupWatermark(s: SparkSession, dir: String): DataFrame = {
    val delayUs = 21600000000L // 6 h
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(array_sort(collect_list(struct(col("ts_us"), col("event_id")))).as("evs"))
      .select(col("user_id"), col("event_type"), explode(expr(
        s"""aggregate(evs,
           |  CAST(array() AS ARRAY<STRUCT<ts_us: BIGINT, event_id: BIGINT>>),
           |  (acc, e) -> CASE
           |    WHEN size(acc) = 0 OR e.ts_us - element_at(acc, -1).ts_us > ${delayUs}L
           |    THEN array_append(acc, e) ELSE acc END)""".stripMargin)).as("kept"))
      .select(col("user_id"), col("event_type"),
        col("kept.event_id").as("event_id"), col("kept.ts_us").as("ts_us"))
      .orderBy(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
  }

  private val streamDedupWatermarkSql =
    """WITH RECURSIVE ev AS (
      | SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
      |   row_number() OVER (PARTITION BY user_id, event_type
      |                      ORDER BY epoch_us(ts), event_id) AS rn
      | FROM events
      |), walk(user_id, event_type, rn, ts_us, event_id, last_kept, kept) AS (
      | SELECT user_id, event_type, rn, ts_us, event_id, ts_us, TRUE
      | FROM ev WHERE rn = 1
      | UNION ALL
      | SELECT e.user_id, e.event_type, e.rn, e.ts_us, e.event_id,
      |   CASE WHEN e.ts_us - w.last_kept > 21600000000 THEN e.ts_us
      |        ELSE w.last_kept END,
      |   e.ts_us - w.last_kept > 21600000000
      | FROM walk w JOIN ev e ON e.user_id = w.user_id
      |   AND e.event_type = w.event_type AND e.rn = w.rn + 1
      |)
      |SELECT user_id, event_type, event_id, ts_us FROM walk WHERE kept
      |ORDER BY user_id, event_type, ts_us, event_id""".stripMargin

  /** G16 rows: per-user running value stats. */
  final case class TwsEvent(user_id: Long, value: Double)
  final case class TwsSummary(user_id: Long, n: Long, total: Double,
      vmin: Double, vmax: Double)

  /** Streaming transform (G16): per-key running stats through Spark
    * 4's `transformWithState` — the arbitrary-state API that succeeds
    * mapGroupsWithState: explicit named state variables on the
    * handle (here one ValueState), timer support, TTL, and a
    * RocksDB-only runtime (the state never has to fit in heap). Each
    * batch folds its rows into the per-user summary and emits the
    * refreshed row — same O(touched keys) contract as the G4 ingest.
    */
  class RunningStatsProcessor
      extends StatefulProcessor[Long, TwsEvent, TwsSummary] {
    @transient private var state: ValueState[TwsSummary] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[TwsSummary]("stats",
        org.apache.spark.sql.Encoders.product[TwsSummary], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TwsEvent],
        timers: TimerValues): Iterator[TwsSummary] = {
      var s =
        if (state.exists()) state.get()
        else TwsSummary(key, 0L, 0.0, Double.MaxValue, Double.MinValue)
      rows.foreach { e =>
        s = TwsSummary(key, s.n + 1, s.total + e.value,
          math.min(s.vmin, e.value), math.max(s.vmax, e.value))
      }
      state.update(s)
      Iterator.single(s)
    }
  }

  def twsRunningStats(events: Dataset[TwsEvent]): Dataset[TwsSummary] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningStatsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  // G16 batch equivalent — the same running stats as one hash agg.
  private def streamTws(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("total"),
        round(min(col("value")), 2).as("vmin"),
        round(max(col("value")), 2).as("vmax"))
      .orderBy(col("user_id"))

  private val streamTwsSql =
    """SELECT user_id, count(*) AS n, round(sum(value), 2) AS total,
      | round(min(value), 2) AS vmin, round(max(value), 2) AS vmax
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** G18 — per-doc Gopher repetition signals computed doc-locally
    * (linear in doc length — a token/bigram hashmap per document, the
    * in-task twin of E18's explode + hash aggs). Returns
    * (passes_gate, n_tokens). Rounding is `scala.BigDecimal(double)`
    * = `java.math.BigDecimal.valueOf` = the exact path Spark's
    * `round()` takes, so the flag matches the column-expression gate
    * bit-for-bit (spec-asserted against [[textGateBatch]]).
    */
  private[graft] def gateSignals(text: String): (Boolean, Long) = {
    val toks = text.toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z0-9]+").filter(_.nonEmpty)
    val n = toks.length.toLong
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val uni = new scala.collection.mutable.HashMap[String, Long]
    toks.foreach(t => uni.update(t, uni.getOrElse(t, 0L) + 1L))
    val topUni = if (uni.isEmpty) 0L else uni.valuesIterator.max
    val bi = new scala.collection.mutable.HashMap[String, Long]
    var i = 0
    while (i + 1 < toks.length) {
      val k = toks(i) + " " + toks(i + 1)
      bi.update(k, bi.getOrElse(k, 0L) + 1L)
      i += 1
    }
    val topBi = if (bi.isEmpty) 0L else bi.valuesIterator.max
    val dupFrac = if (n <= 0) 0.0 else r4((n - uni.size.toLong).toDouble / n)
    val topUniFrac = if (n <= 0) 0.0 else r4(topUni.toDouble / n)
    val topBiFrac = if (n - 1 <= 0) 0.0 else r4(topBi.toDouble / (n - 1))
    (dupFrac <= 0.6 && topUniFrac <= 0.3 && topBiFrac <= 0.25, n)
  }

  /** G18 streaming side: a per-source curation-gate maintainer on
    * `transformWithState` — the streaming twin of the E18/J9 batch
    * gates. Signals are doc-local (stateless within the task); the
    * only state is one counter row per SOURCE (docs seen, docs kept,
    * kept token mass), so state size is O(sources) regardless of
    * stream volume, with the sketch family's TTL surface for key
    * churn. This is the live "how much of today's crawl survived the
    * filters" dashboard every ingestion pipeline keeps.
    */
  class TextGateProcessor(ttl: Option[java.time.Duration] = None)
      extends StatefulProcessor[String, GateDoc, GateSummary] {
    @transient private var state: ValueState[GateSummary] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[GateSummary]("gate",
        org.apache.spark.sql.Encoders.product[GateSummary], twsTtl(ttl))

    override def handleInputRows(key: String, rows: Iterator[GateDoc],
        timers: TimerValues): Iterator[GateSummary] = {
      var s = if (state.exists()) state.get() else GateSummary(key, 0L, 0L, 0L)
      rows.foreach { d =>
        val (ok, n) = gateSignals(d.text)
        s = GateSummary(key, s.n_docs + 1,
          s.n_kept + (if (ok) 1L else 0L),
          s.kept_tokens + (if (ok) n else 0L))
      }
      state.update(s)
      Iterator.single(s)
    }
  }

  def textGateMaintain(docs: Dataset[GateDoc],
      ttl: Option[java.time.Duration] = None): Dataset[GateSummary] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .transformWithState(new TextGateProcessor(ttl),
        twsTimeMode(ttl), OutputMode.Update())
  }

  /** G18 batch equivalent over a `(source, doc_id, text)` frame:
    * E18's exact column-expression signals (explode + two hash aggs
    * per granularity — linear, distributed), then one per-source
    * rollup. Shared by the oracle query and the streaming spec.
    */
  private[graft] def textGateBatch(d: DataFrame): DataFrame = {
    val toks = d.select(col("source"), col("doc_id"), expr(
      "filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '')").as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = toks.select(col("source"), col("doc_id"),
      size(col("toks")).cast("long").as("n_toks"),
      size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
    val uni = toks.select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_uni"))
    val bi = toks.select(col("doc_id"), explode(expr(
        """if(size(toks) >= 2,
          |  transform(sequence(1, size(toks) - 1),
          |    i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))),
          |  array())""".stripMargin)).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_bi"))
    val frac = (num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =>
      when(den <= 0L, lit(0.0)).otherwise(round(num / den, 4) + lit(0.0))
    val ok = frac(col("n_toks") - col("n_distinct"), col("n_toks")) <= 0.6 &&
      frac(coalesce(col("top_uni"), lit(0L)), col("n_toks")) <= 0.3 &&
      frac(coalesce(col("top_bi"), lit(0L)), col("n_toks") - 1L) <= 0.25
    val out = base
      .join(uni, Seq("doc_id"), "left").join(bi, Seq("doc_id"), "left")
      .withColumn("ok", ok)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("ok"), col("n_toks")).otherwise(0L)).as("kept_tokens"))
      .orderBy(col("source"))
      .localCheckpoint(eager = true)
    toks.unpersist(false)
    out
  }

  // G18 batch equivalent on the documents table.
  private def streamTextGate(s: SparkSession, dir: String): DataFrame =
    textGateBatch(Tables.load(s, dir, "documents"))

  /** G19 streaming side: NEXT-FIT sequence packing as a maintainer —
    * the arrival-order twin of J11's concat-and-chunk (which needs a
    * global prefix sum a stream can't have). Per source, state is one
    * (open bin id, fill) pair; a doc that would overflow L=256 closes
    * the bin and opens the next — whole docs never split, the padding
    * trade next-fit makes. Each doc emits its bin assignment exactly
    * once, so the output is an append-shaped assignment log while
    * state stays O(sources). Within a micro-batch rows sort by doc_id
    * (bounded by batch size); across batches arrival order IS the
    * pack order — the streaming contract.
    */
  class PackProcessor(limit: Long)
      extends StatefulProcessor[String, PackDoc, PackAssign] {
    @transient private var state: ValueState[PackState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[PackState]("pack",
        org.apache.spark.sql.Encoders.product[PackState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[PackDoc],
        timers: TimerValues): Iterator[PackAssign] = {
      var st = if (state.exists()) state.get() else PackState(0L, 0L)
      val out = rows.toSeq.sortBy(_.doc_id).map { d =>
        st =
          if (st.fill > 0L && st.fill + d.n_tokens > limit)
            PackState(st.bin + 1L, d.n_tokens)
          else PackState(st.bin, st.fill + d.n_tokens)
        PackAssign(key, d.doc_id, d.n_tokens, st.bin)
      }
      state.update(st)
      out.iterator
    }
  }

  def packStream(docs: Dataset[PackDoc], limit: Long = 256L): Dataset[PackAssign] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .transformWithState(new PackProcessor(limit),
        TimeMode.None(), OutputMode.Update())
  }

  /** G19 batch equivalent over a `(source, doc_id, text)` frame: the
    * same next-fit fold as one `aggregate` HOF over each source's
    * doc_id-ordered (doc, tokens) list — per-source sequential by
    * definition (bin state is a chain), but sources pack in parallel
    * and the fold is linear; the STREAMING maintainer is the scale
    * path for unbounded corpora.
    */
  private[graft] def packBatch(d: DataFrame, limit: Long = 256L): DataFrame = {
    // Next-fit is a NON-associative per-source recurrence (fill resets
    // at bin boundaries) that must also emit one row per doc. The r5
    // shape folded an aggregate() HOF that array_append'ed every doc —
    // Spark arrays are immutable, so each append copies the
    // accumulator: O(docs² per source) (the sf1 probe measured it at
    // 16×/decade). The honest O(n) shape is a source-partitioned
    // sorted scan: repartition by source, sort within partitions, one
    // sequential pass carrying (bin, fill) — state resets on source
    // change, parallelism = #sources either way (inherent to
    // next-fit's arrival-order contract).
    import d.sparkSession.implicits._
    val sized = d.select(col("source"), col("doc_id"),
        (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
          .cast("long").as("n"))
      .repartition(col("source"))
      .sortWithinPartitions(col("source"), col("doc_id"))
      .as[(String, Long, Long)]
    sized.mapPartitions { it =>
      var curSrc: String = null
      var bin = 0L
      var fill = 0L
      it.map { case (src, id, n) =>
        if (src != curSrc) { curSrc = src; bin = 0L; fill = 0L }
        if (fill > 0L && fill + n > limit) { bin += 1L; fill = n }
        else fill += n
        (src, id, n, bin)
      }
    }.toDF("source", "doc_id", "n_tokens", "bin_id")
      .orderBy(col("source"), col("doc_id"))
  }

  // G19 batch equivalent on the documents table.
  private def streamPack(s: SparkSession, dir: String): DataFrame =
    packBatch(Tables.load(s, dir, "documents"))

  private val streamPackSql =
    """WITH RECURSIVE sc AS (
      | SELECT source, doc_id,
      |   CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n,
      |   row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      | FROM documents
      |), walk(source, rn, doc_id, n, bin, fill) AS (
      | SELECT source, rn, doc_id, n, CAST(0 AS BIGINT), n FROM sc WHERE rn = 1
      | UNION ALL
      | SELECT s.source, s.rn, s.doc_id, s.n,
      |   CASE WHEN w.fill + s.n > 256 THEN w.bin + 1 ELSE w.bin END,
      |   CASE WHEN w.fill + s.n > 256 THEN s.n ELSE w.fill + s.n END
      | FROM walk w JOIN sc s ON s.source = w.source AND s.rn = w.rn + 1
      |)
      |SELECT source, doc_id, n AS n_tokens, CAST(bin AS BIGINT) AS bin_id
      |FROM walk ORDER BY source, doc_id""".stripMargin

  private val streamTextGateSql =
    """WITH t AS (
      | SELECT doc_id, source,
      |   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |     x -> x <> '') AS toks
      | FROM documents),
      |base AS (
      | SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_toks,
      |   CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct FROM t),
      |uni AS (
      | SELECT doc_id, max(c) AS top_uni FROM (
      |   SELECT doc_id, tok, count(*) AS c
      |   FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY doc_id, tok)
      | GROUP BY doc_id),
      |bi AS (
      | SELECT doc_id, max(c) AS top_bi FROM (
      |   SELECT doc_id, bg, count(*) AS c
      |   FROM (SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
      |     THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
      |     ELSE [] END) AS bg FROM t) GROUP BY doc_id, bg)
      | GROUP BY doc_id),
      |g AS (
      | SELECT b.source, b.n_toks,
      |  (CASE WHEN b.n_toks <= 0 THEN 0.0
      |        ELSE round((b.n_toks - b.n_distinct) / b.n_toks, 4) + 0 END <= 0.6
      |   AND CASE WHEN b.n_toks <= 0 THEN 0.0
      |        ELSE round(coalesce(u.top_uni, 0) / b.n_toks, 4) + 0 END <= 0.3
      |   AND CASE WHEN b.n_toks - 1 <= 0 THEN 0.0
      |        ELSE round(coalesce(i.top_bi, 0) / (b.n_toks - 1), 4) + 0 END <= 0.25)
      |   AS ok
      | FROM base b LEFT JOIN uni u USING (doc_id) LEFT JOIN bi i USING (doc_id))
      |SELECT source, count(*) AS n_docs,
      | CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      | CAST(sum(CASE WHEN ok THEN n_toks ELSE 0 END) AS BIGINT) AS kept_tokens
      |FROM g GROUP BY source ORDER BY source""".stripMargin

  /** G26 — GAP / SILENT-SOURCE detection (the pipeline-health monitor:
    * which feeds stalled?). Two complementary signals: (a) CLOSED gaps
    * — on each arrival, the event-time distance to the key's previous
    * event, counted when > 1 h (exact integer micros, replayed by the
    * batch lag window and the oracle); (b) OPEN silence — a key with
    * NO next event ever. (b) is undetectable by any per-arrival fold;
    * it needs EVENT-TIME TIMERS: after each batch the maintainer arms
    * a timer at last_seen + threshold, re-arming on new data, so the
    * timer fires only when the watermark passes a still-silent key —
    * the first use of handleExpiredTimer in the suite. The batch twin
    * mirrors (b) as silence against the feed's global max ts.
    */
  private[graft] val GapThresholdUs = 3600L * 1000000L

  class GapProcessor extends StatefulProcessor[String, GapEvent, GapReport] {
    @transient private var state: ValueState[GapState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[GapState]("gap",
        org.apache.spark.sql.Encoders.product[GapState], TTLConfig.NONE)

    private def report(key: String, s: GapState, alert: Boolean) =
      GapReport(key, s.n_events, s.n_gaps,
        java.math.BigDecimal.valueOf(s.max_gap_us / 60e6)
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue,
        alert)

    override def handleInputRows(key: String, rows: Iterator[GapEvent],
        timers: TimerValues): Iterator[GapReport] = {
      var cur = if (state.exists()) state.get()
        else GapState(Long.MinValue, 0L, 0L, 0L)
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        if (cur.last_ts_us != Long.MinValue && e.ts_us > cur.last_ts_us) {
          val gap = e.ts_us - cur.last_ts_us
          cur = cur.copy(
            n_gaps = cur.n_gaps + (if (gap > GapThresholdUs) 1L else 0L),
            max_gap_us = math.max(cur.max_gap_us, gap))
        }
        cur = cur.copy(last_ts_us = math.max(cur.last_ts_us, e.ts_us),
          n_events = cur.n_events + 1)
      }
      state.update(cur)
      // re-arm the silence timer at last_seen + threshold (event time)
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      if (cur.last_ts_us != Long.MinValue)
        getHandle.registerTimer(cur.last_ts_us / 1000 + GapThresholdUs / 1000)
      Iterator.single(report(key, cur, alert = false))
    }

    override def handleExpiredTimer(key: String, timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[GapReport] = {
      val cur = state.get()
      Iterator.single(report(key, cur, alert = true))
    }
  }

  def gapDetectStream(feed: Dataset[GapEvent]): Dataset[GapReport] = {
    import feed.sparkSession.implicits._
    feed.groupByKey(_.event_type)
      .transformWithState(new GapProcessor(),
        TimeMode.EventTime(), OutputMode.Update())
  }

  /** G26 batch equivalent: lag window per key + end-of-feed silence
    * against the global max event time.
    */
  private[graft] def gapDetectBatch(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    val gaps = events.select(col("event_type"), col("event_id"), col("ts_us"))
      .withColumn("gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
    val feedEnd = gaps.agg(max(col("ts_us")).as("feed_max"))
    gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("gap") > GapThresholdUs, 1L).otherwise(0L)).as("n_gaps"),
        (round(coalesce(max(col("gap")), lit(0L)) / 60e6, 4) + lit(0.0))
          .as("max_gap_min"),
        max(col("ts_us")).as("last_ts"))
      .crossJoin(broadcast(feedEnd))
      .withColumn("silent_alert",
        col("feed_max") - col("last_ts") > GapThresholdUs)
      .select(col("event_type"), col("n_events"), col("n_gaps"),
        col("max_gap_min"), col("silent_alert"))
      .orderBy(col("event_type"))
  }

  private def streamGapDetect(s: SparkSession, dir: String): DataFrame =
    gapDetectBatch(Tables.load(s, dir, "events")
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us")))

  private val streamGapDetectSql =
    """WITH e AS (
      | SELECT event_type, event_id, epoch_us(ts) AS ts_us FROM events),
      |g AS (
      | SELECT event_type, ts_us,
      |  ts_us - lag(ts_us) OVER (PARTITION BY event_type
      |    ORDER BY ts_us, event_id) AS gap
      | FROM e),
      |agg AS (
      | SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CASE WHEN gap > 3600000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_gaps,
      |  round(coalesce(max(gap), 0) / 60e6, 4) + 0 AS max_gap_min,
      |  max(ts_us) AS last_ts
      | FROM g GROUP BY event_type),
      |fe AS (SELECT max(ts_us) AS feed_max FROM e)
      |SELECT event_type, n_events, n_gaps, max_gap_min,
      | feed_max - last_ts > 3600000000 AS silent_alert
      |FROM agg CROSS JOIN fe ORDER BY event_type""".stripMargin

  /** G25 — TOKEN-BUCKET rate limiter (admission control as a stream
    * operator: cap each key at `Cap` events per `PeriodUs`, with
    * burst up to the bucket size — the API-gateway/ingest-throttle
    * semantics). Credit is tracked in INTEGER microseconds (credit +=
    * elapsed, clamped at Cap·Period; admit costs Period), so the fold
    * is exact long arithmetic that three engines replay identically:
    * the transformWithState maintainer (state = 2 longs + 2
    * counters), the batch twin's per-key sorted mapPartitions scan
    * (the honest O(n) shape for a non-associative recurrence —
    * stream_pack's precedent), and the DuckDB recursive-CTE oracle
    * stepping rn → rn+1 per key.
    */
  private[graft] val RatePeriodUs = 3600L * 1000000L // 1 token per hour
  private[graft] val RateCap = 4L

  class RateProcessor extends StatefulProcessor[String, RateEvent, RateSummary] {
    @transient private var state: ValueState[RateState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[RateState]("rate",
        org.apache.spark.sql.Encoders.product[RateState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[RateEvent],
        timers: TimerValues): Iterator[RateSummary] = {
      var cur = if (state.exists()) state.get()
        else RateState(RateCap * RatePeriodUs, Long.MinValue, 0L, 0L)
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        val refilled =
          if (cur.last_ts_us == Long.MinValue) RateCap * RatePeriodUs
          else math.min(RateCap * RatePeriodUs,
            cur.credit_us + math.max(0L, e.ts_us - cur.last_ts_us))
        val admit = refilled >= RatePeriodUs
        cur = RateState(
          if (admit) refilled - RatePeriodUs else refilled,
          e.ts_us,
          cur.n_admit + (if (admit) 1L else 0L),
          cur.n_throttle + (if (admit) 0L else 1L))
      }
      state.update(cur)
      Iterator.single(RateSummary(key, cur.n_admit + cur.n_throttle,
        cur.n_admit, cur.n_throttle))
    }
  }

  def rateLimitStream(feed: Dataset[RateEvent]): Dataset[RateSummary] = {
    import feed.sparkSession.implicits._
    feed.groupByKey(_.event_type)
      .transformWithState(new RateProcessor(),
        TimeMode.None(), OutputMode.Update())
  }

  /** G25 batch equivalent: per-key sorted scan folding the same
    * integer credit recurrence.
    */
  private[graft] def rateLimitBatch(feed: DataFrame): DataFrame = {
    import feed.sparkSession.implicits._
    val parts = feed.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    feed.select(col("event_type"), col("event_id"), col("ts_us"))
      .as[(String, Long, Long)]
      .repartition(parts, col("event_type"))
      .sortWithinPartitions(col("event_type"), col("ts_us"), col("event_id"))
      .mapPartitions { it =>
        var curKey: String = null
        var credit = 0L
        var last = Long.MinValue
        var nAdmit = 0L
        var nThrottle = 0L
        val out = scala.collection.mutable.Map[String, (Long, Long)]()
        def flush(): Unit = if (curKey != null)
          out(curKey) = (nAdmit, nThrottle)
        it.foreach { case (k, id, ts) =>
          if (k != curKey) {
            flush(); curKey = k
            credit = RateCap * RatePeriodUs; last = Long.MinValue
            nAdmit = 0L; nThrottle = 0L
          }
          val refilled =
            if (last == Long.MinValue) RateCap * RatePeriodUs
            else math.min(RateCap * RatePeriodUs,
              credit + math.max(0L, ts - last))
          val admit = refilled >= RatePeriodUs
          credit = if (admit) refilled - RatePeriodUs else refilled
          last = ts
          if (admit) nAdmit += 1 else nThrottle += 1
        }
        flush()
        out.iterator.map { case (k, (a, t)) => (k, a + t, a, t) }
      }.toDF("event_type", "n_events", "n_admitted", "n_throttled")
      .orderBy(col("event_type"))
  }

  private def streamRateLimit(s: SparkSession, dir: String): DataFrame =
    rateLimitBatch(Tables.load(s, dir, "events")
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us")))

  private val streamRateLimitSql =
    """WITH RECURSIVE e AS (
      | SELECT event_type, event_id, epoch_us(ts) AS ts_us,
      |  row_number() OVER (PARTITION BY event_type
      |    ORDER BY epoch_us(ts), event_id) AS rn
      | FROM events),
      |walk(event_type, rn, credit, ts_us, n_admit, n_throttle) AS (
      | SELECT event_type, rn,
      |  CASE WHEN 4 * 3600000000 >= 3600000000
      |    THEN 4 * 3600000000 - 3600000000 ELSE 4 * 3600000000 END,
      |  ts_us, CAST(1 AS BIGINT), CAST(0 AS BIGINT)
      | FROM e WHERE rn = 1
      | UNION ALL
      | SELECT s.event_type, s.rn,
      |  CASE WHEN least(4 * 3600000000,
      |      w.credit + greatest(0, s.ts_us - w.ts_us)) >= 3600000000
      |    THEN least(4 * 3600000000,
      |      w.credit + greatest(0, s.ts_us - w.ts_us)) - 3600000000
      |    ELSE least(4 * 3600000000,
      |      w.credit + greatest(0, s.ts_us - w.ts_us)) END,
      |  s.ts_us,
      |  w.n_admit + CASE WHEN least(4 * 3600000000,
      |      w.credit + greatest(0, s.ts_us - w.ts_us)) >= 3600000000
      |    THEN 1 ELSE 0 END,
      |  w.n_throttle + CASE WHEN least(4 * 3600000000,
      |      w.credit + greatest(0, s.ts_us - w.ts_us)) >= 3600000000
      |    THEN 0 ELSE 1 END
      | FROM walk w JOIN e s ON s.event_type = w.event_type AND s.rn = w.rn + 1
      |)
      |SELECT event_type, CAST(max(rn) AS BIGINT) AS n_events,
      | CAST(max(n_admit) AS BIGINT) AS n_admitted,
      | CAST(max(n_throttle) AS BIGINT) AS n_throttled
      |FROM walk GROUP BY event_type ORDER BY event_type""".stripMargin

  /** G29 — streaming one-sided CUSUM monitor (the KNOWN-REFERENCE
    * change detector: S ← max(0, S + (v − k)), alarm and reset when
    * S crosses h — B90 finds a change offline with the two-pass
    * centered CUSUM; this is the single-pass online twin a monitor
    * actually runs). Exact integer cents end-to-end (k = $90.00,
    * h = $250.00 as shared literals), so the fold replays without
    * float drift in the maintainer, the sorted batch fold, AND the
    * oracle's recursive CTE — the same number three ways (G23/G25's
    * proof pattern).
    */
  class CusumProcessor
      extends StatefulProcessor[String, CusumEvent, CusumSummary] {
    @transient private var state: ValueState[CusumState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[CusumState]("cusum",
        org.apache.spark.sql.Encoders.product[CusumState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[CusumEvent],
        timers: TimerValues): Iterator[CusumSummary] = {
      var st = if (state.exists()) state.get() else CusumState(0L, 0L, 0L, 0L)
      rows.foreach { e =>
        var sNew = math.max(0L, st.s + e.v_cents - CusumRefCents)
        var alarms = st.n_alarms
        if (sNew > CusumAlarmCents) { alarms += 1; sNew = 0L }
        st = CusumState(sNew, alarms, math.max(st.max_s, sNew), st.n + 1)
      }
      state.update(st)
      Iterator.single(CusumSummary(key, st.n, st.n_alarms, st.max_s, st.s))
    }
  }

  def cusumStream(events: Dataset[CusumEvent]): Dataset[CusumSummary] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new CusumProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** G29 batch twin: per-key event-time-sorted fold, identical
    * integer arithmetic (the G25 mapPartitions shape).
    */
  private[graft] def cusumBatch(feed: DataFrame): DataFrame = {
    import feed.sparkSession.implicits._
    val parts = feed.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    feed.select(col("event_type"), col("ts_us"), col("event_id"),
        col("v_cents"))
      .as[(String, Long, Long, Long)]
      .repartition(parts, col("event_type"))
      .sortWithinPartitions(col("event_type"), col("ts_us"), col("event_id"))
      .mapPartitions { it =>
        var curKey: String = null
        var s = 0L; var alarms = 0L; var maxS = 0L; var n = 0L
        val out = scala.collection.mutable.Map[String, (Long, Long, Long, Long)]()
        def flush(): Unit = if (curKey != null) out(curKey) = (n, alarms, maxS, s)
        it.foreach { case (k, _, _, v) =>
          if (k != curKey) {
            flush(); curKey = k; s = 0L; alarms = 0L; maxS = 0L; n = 0L
          }
          var sNew = math.max(0L, s + v - CusumRefCents)
          if (sNew > CusumAlarmCents) { alarms += 1; sNew = 0L }
          s = sNew; maxS = math.max(maxS, sNew); n += 1
        }
        flush()
        out.iterator.map { case (k, (nn, a, m, fs)) => (k, nn, a, m, fs) }
      }.toDF("event_type", "n_events", "n_alarms", "max_s_cents",
        "final_s_cents")
      .orderBy(col("event_type"))
  }

  /** G30 — streaming POPULATION-STABILITY-INDEX drift monitor (the
    * per-day distribution check a serving/training-data feed runs:
    * J24 measures drift OFFLINE source-vs-corpus; this maintains it
    * ONLINE against a frozen reference window). Day 0's 8-bin value
    * histogram (exact integer counts, $50 bins on v_cents — no float
    * binning boundary) freezes as the per-key reference; every later
    * completed day emits PSI = Σ(qᵢ−pᵢ)·ln(qᵢ/pᵢ) with +1 Laplace
    * smoothing over the full bin spine (so empty bins can't produce
    * ln(0)). State per key = two 8-long histograms + two day marks —
    * O(keys·bins), never O(events). Logs touch only the final
    * per-day scalar (6dp-rounded), never the fold: histograms are
    * exact integers, so engines can't drift mid-stream.
    */
  private[graft] val PsiBins = 8
  private[graft] val PsiBinCents = 5000L

  /** Rows whose bin falls outside [0, PsiBins) are DROPPED — the
    * batch twin's 0..7 spine join silently drops them too, so the
    * maintainer can't diverge (callers clamp the top with least(),
    * but a negative value would otherwise produce a negative bin).
    * Days are assumed in order ACROSS micro-batches (within a batch
    * they're sorted); an earlier day arriving after a later one folds
    * into the open day, the standard watermarkless-monitor contract.
    */
  class PsiProcessor extends StatefulProcessor[String, PsiEvent, PsiDaySummary] {
    @transient private var state: ValueState[PsiState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[PsiState]("psi",
        org.apache.spark.sql.Encoders.product[PsiState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[PsiEvent],
        timers: TimerValues): Iterator[PsiDaySummary] = {
      var st = if (state.exists()) state.get()
        else PsiState(Long.MinValue, Long.MinValue, Seq.empty,
          Seq.fill(PsiBins)(0L))
      val out = scala.collection.mutable.ArrayBuffer.empty[PsiDaySummary]
      def closeDay(): Unit =
        if (st.ref.isEmpty) st = st.copy(ref = st.counts)
        else out += StreamQueries.psiSummary(key, st.day - st.d0, st.ref,
          st.counts)
      rows.toSeq.sortBy(_.day)
        .filter(e => e.bin >= 0L && e.bin < PsiBins).foreach { e =>
        if (st.day == Long.MinValue) st = st.copy(d0 = e.day, day = e.day)
        if (e.day > st.day) {
          closeDay()
          st = st.copy(day = e.day, counts = Seq.fill(PsiBins)(0L))
        }
        val b = e.bin.toInt
        st = st.copy(counts = st.counts.updated(b, st.counts(b) + 1L))
      }
      state.update(st)
      out.iterator
    }
  }

  /** The per-day PSI fold the maintainer and the batch twin share:
    * q/p are (+1)-smoothed proportions over the full bin spine, the
    * association ((c+1)·1.0/(n+8)) matches the oracle token for
    * token, and the bin sum runs ascending (round-6 output absorbs
    * the batch twin's partition-order sum).
    */
  private[graft] def psiSummary(key: String, dayIdx: Long, ref: Seq[Long],
      cur: Seq[Long]): PsiDaySummary = {
    val n = cur.sum
    val rn = ref.sum
    var psi = 0.0
    var i = 0
    while (i < PsiBins) {
      val q = (cur(i) + 1L) * 1.0 / (n + PsiBins)
      val p = (ref(i) + 1L) * 1.0 / (rn + PsiBins)
      psi += (q - p) * math.log(q / p)
      i += 1
    }
    PsiDaySummary(key, dayIdx, n, psi)
  }

  def psiDriftStream(events: Dataset[PsiEvent]): Dataset[PsiDaySummary] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new PsiProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** G30 batch twin over (event_type, day, bin): day-0 histogram is
    * the reference, all ≥1 days score against it. The reference join
    * broadcasts (keys×8 rows); counts shuffle once on
    * (key, day, bin).
    */
  private[graft] def psiDriftBatch(feed: DataFrame): DataFrame = {
    val s = feed.sparkSession
    // pinned: five consumers (min-day, spine, totals, reference,
    // terms) read this frame — unpinned, each re-runs the O(data)
    // count over the raw feed (the plan audit showed six parquet
    // scans); pinned, the corpus is read ONCE and everything after
    // is O(keys·days·bins) rows.
    val counts = feed.groupBy(col("event_type"), col("day"), col("bin"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val minDay = counts.groupBy(col("event_type")).agg(min(col("day")).as("d0"))
    val rel = counts.join(broadcast(minDay), Seq("event_type"))
      .withColumn("day_idx", col("day") - col("d0"))
      .select(col("event_type"), col("day_idx"), col("bin"), col("c"))
    val spine = rel.select(col("event_type"), col("day_idx")).distinct()
      .crossJoin(broadcast(s.range(0, PsiBins).select(col("id").as("bin"))))
    val full = spine.join(rel, Seq("event_type", "day_idx", "bin"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val tot = full.groupBy(col("event_type"), col("day_idx"))
      .agg(sum(col("c")).as("n"))
    val ft = full.join(tot, Seq("event_type", "day_idx"))
    val ref = ft.filter(col("day_idx") === 0)
      .select(col("event_type"), col("bin"), col("c").as("rc"),
        col("n").as("rn"))
    ft.filter(col("day_idx") >= 1)
      .join(broadcast(ref), Seq("event_type", "bin"))
      .withColumn("q", (col("c") + 1) * lit(1.0) / (col("n") + PsiBins))
      .withColumn("p", (col("rc") + 1) * lit(1.0) / (col("rn") + PsiBins))
      .withColumn("term", (col("q") - col("p")) * log(col("q") / col("p")))
      .groupBy(col("event_type"), col("day_idx"))
      .agg(max(col("n")).as("n_events"),
        (round(sum(col("term")), 6) + lit(0.0)).as("psi"))
      .withColumn("drifted", col("psi") > 0.1)
      .orderBy(col("event_type"), col("day_idx"))
  }

  private def streamDriftPsi(s: SparkSession, dir: String): DataFrame =
    psiDriftBatch(Tables.load(s, dir, "events")
      .select(col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000").as("day"),
        least(expr(
          "CAST(round(value * 100, 0) AS BIGINT) DIV " + PsiBinCents),
          lit(PsiBins - 1L)).as("bin")))

  private val streamDriftPsiSql =
    """WITH e AS (
      | SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |  least(CAST(round(value * 100, 0) AS BIGINT) // 5000, 7) AS bin
      | FROM events),
      |cnt AS (SELECT event_type, day, bin, count(*) AS c
      |        FROM e GROUP BY event_type, day, bin),
      |md AS (SELECT event_type, min(day) AS d0 FROM cnt GROUP BY event_type),
      |rel AS (SELECT cnt.event_type, day - d0 AS day_idx, bin, c
      |        FROM cnt JOIN md USING (event_type)),
      |spine AS (
      | SELECT event_type, day_idx, b.bin
      | FROM (SELECT DISTINCT event_type, day_idx FROM rel)
      | CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS bin) b),
      |f AS (SELECT s.event_type, s.day_idx, s.bin, coalesce(c, 0) AS c
      |      FROM spine s LEFT JOIN rel
      |      USING (event_type, day_idx, bin)),
      |tot AS (SELECT event_type, day_idx, CAST(sum(c) AS BIGINT) AS n
      |        FROM f GROUP BY event_type, day_idx),
      |ft AS (SELECT f.event_type, f.day_idx, f.bin, f.c, t.n
      |       FROM f JOIN tot t USING (event_type, day_idx)),
      |ref AS (SELECT event_type, bin, c AS rc, n AS rn FROM ft
      |        WHERE day_idx = 0),
      |term AS (
      | SELECT ft.event_type, ft.day_idx, ft.n,
      |  ((ft.c + 1) * 1.0 / (ft.n + 8) - (rc + 1) * 1.0 / (rn + 8))
      |   * ln(((ft.c + 1) * 1.0 / (ft.n + 8)) / ((rc + 1) * 1.0 / (rn + 8)))
      |    AS term
      | FROM ft JOIN ref USING (event_type, bin) WHERE ft.day_idx >= 1)
      |SELECT event_type, day_idx, max(n) AS n_events,
      | round(sum(term), 6) + 0 AS psi,
      | (round(sum(term), 6) + 0) > 0.1 AS drifted
      |FROM term GROUP BY event_type, day_idx
      |ORDER BY event_type, day_idx""".stripMargin

  private def streamCusum(s: SparkSession, dir: String): DataFrame =
    cusumBatch(Tables.load(s, dir, "events")
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"),
        round(col("value") * 100, 0).cast("long").as("v_cents")))

  private val streamCusumSql =
    """WITH RECURSIVE e AS (
      | SELECT event_type, event_id, epoch_us(ts) AS ts_us,
      |  CAST(round(value * 100, 0) AS BIGINT) AS v,
      |  row_number() OVER (PARTITION BY event_type
      |    ORDER BY epoch_us(ts), event_id) AS rn
      | FROM events),
      |walk(event_type, rn, s, n_alarms, max_s) AS (
      | SELECT event_type, rn,
      |  CASE WHEN greatest(0, v - 9000) > 25000 THEN 0
      |       ELSE greatest(0, v - 9000) END,
      |  CASE WHEN greatest(0, v - 9000) > 25000 THEN 1 ELSE 0 END,
      |  CASE WHEN greatest(0, v - 9000) > 25000 THEN 0
      |       ELSE greatest(0, v - 9000) END
      | FROM e WHERE rn = 1
      | UNION ALL
      | SELECT s2.event_type, s2.rn,
      |  CASE WHEN greatest(0, w.s + s2.v - 9000) > 25000 THEN 0
      |       ELSE greatest(0, w.s + s2.v - 9000) END,
      |  w.n_alarms + CASE WHEN greatest(0, w.s + s2.v - 9000) > 25000
      |    THEN 1 ELSE 0 END,
      |  greatest(w.max_s,
      |   CASE WHEN greatest(0, w.s + s2.v - 9000) > 25000 THEN 0
      |        ELSE greatest(0, w.s + s2.v - 9000) END)
      | FROM walk w JOIN e s2
      |  ON s2.event_type = w.event_type AND s2.rn = w.rn + 1)
      |SELECT event_type, CAST(max(rn) AS BIGINT) AS n_events,
      | CAST(max_by(n_alarms, rn) AS BIGINT) AS n_alarms,
      | CAST(max(max_s) AS BIGINT) AS max_s_cents,
      | CAST(max_by(s, rn) AS BIGINT) AS final_s_cents
      |FROM walk GROUP BY event_type ORDER BY event_type""".stripMargin

  /** G24 — LATE-DATA audit (what the watermark would have dropped):
    * per key, a row is LATE if its event time trails the running max
    * event time of everything that ARRIVED before it by more than the
    * 30-minute watermark delay — exactly Structured Streaming's drop
    * rule, surfaced as per-key metrics instead of silent discards
    * (the observability every production watermark needs: "how much
    * am I losing, per source, at this delay?"). The generator emits
    * events in perfect ts order, so arrival order is DERIVED: a
    * deterministic md5 shuffle WITHIN each hour (out-of-orderness
    * bounded by 1h against a 30-min delay ⇒ real lateness, exactly
    * reproducible in SQL). State per key = one long + two counters;
    * the batch twin is a running-max window per key (parallel across
    * keys — the per-partition-watermark shape, not a global order).
    */
  private[graft] val LateDelayUs = 30L * 60 * 1000 * 1000

  class LateProcessor extends StatefulProcessor[String, LateEvent, LateSummary] {
    @transient private var state: ValueState[LateState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[LateState]("late",
        org.apache.spark.sql.Encoders.product[LateState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[LateEvent],
        timers: TimerValues): Iterator[LateSummary] = {
      var cur = if (state.exists()) state.get()
        else LateState(Long.MinValue, 0L, 0L)
      rows.toSeq.sortBy(_.arrival_seq).foreach { e =>
        val late = cur.n_events > 0 && e.ts_us < cur.max_ts_us - LateDelayUs
        cur = LateState(math.max(cur.max_ts_us, e.ts_us),
          cur.n_events + 1, cur.n_late + (if (late) 1L else 0L))
      }
      state.update(cur)
      Iterator.single(LateSummary(key, cur.n_events, cur.n_late))
    }
  }

  def lateAuditStream(feed: Dataset[LateEvent]): Dataset[LateSummary] = {
    import feed.sparkSession.implicits._
    feed.groupByKey(_.event_type)
      .transformWithState(new LateProcessor(),
        TimeMode.None(), OutputMode.Update())
  }

  /** G24 batch equivalent over (event_type, arrival_seq, ts_us). */
  private[graft] def lateAuditBatch(arrivals: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("arrival_seq"))
      .rowsBetween(Window.unboundedPreceding, -1)
    arrivals
      .withColumn("runmax", max(col("ts_us")).over(w))
      .withColumn("late",
        col("runmax").isNotNull && col("ts_us") < col("runmax") - LateDelayUs)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"))
      .orderBy(col("event_type"))
  }

  private def streamLateMetrics(s: SparkSession, dir: String): DataFrame = {
    // derived deterministic arrival order: hour-bucket ‖ md5(event_id)
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("hr"), col("ak"), col("event_id"))
    val arrivals = Tables.load(s, dir, "events")
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"),
        date_trunc("hour", col("ts")).as("hr"),
        md5(col("event_id").cast("string")).as("ak"))
      .withColumn("arrival_seq", row_number().over(w).cast("long"))
      .select(col("event_type"), col("arrival_seq"), col("ts_us"))
    lateAuditBatch(arrivals)
      .withColumn("late_share",
        round(col("n_late") / col("n_events"), 6) + lit(0.0))
  }

  private val streamLateMetricsSql =
    """WITH e AS (
      | SELECT event_type, event_id, epoch_us(ts) AS ts_us,
      |  date_trunc('hour', ts) AS hr, md5(CAST(event_id AS VARCHAR)) AS ak
      | FROM events),
      |r AS (
      | SELECT event_type, ts_us,
      |  max(ts_us) OVER (PARTITION BY event_type ORDER BY hr, ak, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
      | FROM e),
      |a AS (
      | SELECT event_type,
      |  CASE WHEN runmax IS NOT NULL AND ts_us < runmax - 1800000000
      |    THEN 1 ELSE 0 END AS late
      | FROM r)
      |SELECT event_type, count(*) AS n_events,
      | CAST(sum(late) AS BIGINT) AS n_late,
      | round(sum(late) * 1.0 / count(*), 6) + 0 AS late_share
      |FROM a GROUP BY event_type ORDER BY event_type""".stripMargin

  /** G23 — streaming EWMA ANOMALY detection (the live telemetry gate:
    * flag events whose value breaks from the recent per-key level).
    * The detector is a 16-tap FIR EWMA — weights (1−α)^j over the
    * trailing 16 values, α = 0.25 — deliberately FINITE so the exact
    * same number is computable three ways: the streaming maintainer's
    * ring buffer, the batch window formula, and the DuckDB oracle.
    * An infinite-horizon EWMA would be a per-row recurrence no SQL
    * window replays. Anomaly rule: |v − ewma| > 2.5·σ₁₆ with both
    * sides rounded to 6dp before comparing (σ from the same 16-value
    * power sums in both engines, so a borderline comparison can't
    * flip on engine-internal summation order). State per key = 16
    * doubles + 3 counters — O(keys), TTL-able, RocksDB-friendly.
    */
  private[graft] val EwmaAlpha = 0.25
  private[graft] val EwmaTaps = 16

  // BigDecimal.valueOf (shortest-decimal), not new BigDecimal(double)
  // (exact-binary): Spark's Round expression goes through valueOf, and
  // the two disagree exactly at the .xxx5 boundaries rounding exists
  // to police.
  private def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
    .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
  private def round4(x: Double): Double = java.math.BigDecimal.valueOf(x)
    .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue

  class EwmaProcessor extends StatefulProcessor[String, EwmaEvent, EwmaSummary] {
    @transient private var state: ValueState[EwmaState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[EwmaState]("ewma",
        org.apache.spark.sql.Encoders.product[EwmaState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[EwmaEvent],
        timers: TimerValues): Iterator[EwmaSummary] = {
      var cur = if (state.exists()) state.get()
        else EwmaState(Nil, 0L, 0L, 0.0)
      // event-time order within the micro-batch (the spec feeds
      // batches in ts order across batch boundaries)
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        if (cur.buf.length == EwmaTaps) {
          // buf is oldest-first; identical fold order to the batch
          // window formula (index i=0 oldest → weight 0.75^(15-i))
          var acc = 0.0
          var s1 = 0.0
          var s2 = 0.0
          var i = 0
          cur.buf.foreach { x =>
            acc += x * math.pow(1.0 - EwmaAlpha, EwmaTaps - 1 - i)
            s1 += x; s2 += x * x
            i += 1
          }
          val ewma = acc /
            ((1.0 - math.pow(1.0 - EwmaAlpha, EwmaTaps)) / EwmaAlpha)
          val sd = math.sqrt(math.max(0.0,
            s2 / EwmaTaps - (s1 / EwmaTaps) * (s1 / EwmaTaps)))
          val dev = math.abs(e.value - ewma)
          val anom = round6(dev) > round6(sd * 2.5)
          cur = cur.copy(n_scored = cur.n_scored + 1,
            n_anom = cur.n_anom + (if (anom) 1L else 0L),
            max_dev = math.max(cur.max_dev, dev))
        }
        val buf2 = (cur.buf :+ e.value).takeRight(EwmaTaps)
        cur = cur.copy(buf = buf2)
      }
      state.update(cur)
      Iterator.single(EwmaSummary(key, cur.n_scored, cur.n_anom,
        round4(cur.max_dev)))
    }
  }

  def ewmaAnomalyStream(feed: Dataset[EwmaEvent]): Dataset[EwmaSummary] = {
    import feed.sparkSession.implicits._
    feed.groupByKey(_.event_type)
      .transformWithState(new EwmaProcessor(),
        TimeMode.None(), OutputMode.Update())
  }

  /** G23 batch equivalent: the same 16-tap detector with identical
    * per-score arithmetic (same fold order) as the maintainer's.
    *
    * r10: the single `Window.partitionBy(event_type)` ran 5
    * single-task partitions over 100M rows at sf100 (10.5×, 688 s).
    * The frame is only 16 rows deep, so the window SUB-BUCKETS by
    * (event_type, hour(ts)) — hour buckets are monotone in the
    * (ts, event_id) order, so in-bucket ranks/frames are exact — and
    * the first 16 rows of each bucket stitch on a CARRY: per bucket,
    * a tiny summary row holds its last ≤16 values (`tail16`) and row
    * count; a per-type window over the summaries (types × ~720
    * buckets, trivial) turns those into each bucket's preceding-16
    * values and preceding-row count. `slice(concat(carry, lag_l),
    * -16, 16)` is then the exact global 16-frame for every row with
    * a global rank > 16 — including rows whose frame spans several
    * sparse buckets, since each tail16 keeps min(n, 16) values and
    * concatenation preserves order. Scoring expressions are
    * UNCHANGED, so the DuckDB oracle replays bit-identically.
    */
  private[graft] def ewmaAnomalyBatch(events: DataFrame): DataFrame = {
    val wl = Window.partitionBy(col("event_type"), col("bkt"))
      .orderBy(col("ts"), col("event_id"))
    val wf = wl.rowsBetween(-EwmaTaps, -1)
    val wAll = wl.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val norm = (1.0 - math.pow(1.0 - EwmaAlpha, EwmaTaps)) / EwmaAlpha
    val base = events.select(col("event_type"), col("ts"), col("event_id"),
        col("value").as("v"))
      .withColumn("bkt", date_trunc("hour", col("ts"))) // NTZ-safe, TZ-free
    // slim summary pass: per-bucket row count + ordered last-16 values
    // (no per-row frame lists — same exchange + sort as the main pass,
    // so Catalyst reuses the shuffle)
    val ws = Window.partitionBy(col("event_type")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val summaries = base
      .withColumn("rn_l", row_number().over(wl))
      .withColumn("n_rows", count(lit(1)).over(wAll))
      .filter(col("rn_l") > col("n_rows") - EwmaTaps)
      .groupBy(col("event_type"), col("bkt"))
      .agg(max(col("n_rows")).as("n_rows"),
        expr("transform(array_sort(collect_list(struct(ts, event_id, v)))," +
          " x -> x.v)").as("tail16"))
      .withColumn("cum_prev",
        coalesce(sum(col("n_rows")).over(ws), lit(0L)))
      .withColumn("pre", flatten(collect_list(col("tail16")).over(ws)))
      .select(col("event_type"), col("bkt"), col("cum_prev"),
        when(size(col("pre")) > EwmaTaps,
          expr(s"slice(pre, -$EwmaTaps, $EwmaTaps)"))
          .otherwise(col("pre")).as("carry"))
    // r11 (VERDICT r10 ask #9): the unconditional broadcast hint is a
    // multi-year OOM (the summary table grows with the corpus time
    // range, types × hour buckets, ~200 B carry each) — but dropping
    // the hint and leaving the decision to AQE was MEASURED 2-3x
    // slower at sf100 (50.8 s hinted → 121.8/156.6 s in two clean
    // probe trials). So the broadcast is gated on the KNOWN bucket
    // count instead (HnswLite's data-quantity-gate pattern): one
    // cheap map-side-collapsed count of distinct (type, hour) pairs —
    // the summary table's exact row count — keeps the broadcast
    // whenever the carry table is ≤2^18 rows (~50 MB framed) and
    // falls back to the plain join above it. Results identical on
    // both paths.
    val nCarryRows = events
      .agg(countDistinct(col("event_type"), date_trunc("hour", col("ts")))
        .as("n")).head.getLong(0)
    val carrySide =
      if (nCarryRows <= QueryShape.BroadcastRowLimit) broadcast(summaries) else summaries
    base
      .withColumn("rn_l", row_number().over(wl))
      .withColumn("lag_l", collect_list(col("v")).over(wf))
      .join(carrySide, Seq("event_type", "bkt"))
      .filter(col("cum_prev") + col("rn_l") > EwmaTaps)
      .withColumn("lag16",
        expr(s"slice(concat(carry, lag_l), -$EwmaTaps, $EwmaTaps)"))
      .withColumn("ewma", expr(
        s"""aggregate(sequence(1, $EwmaTaps), 0D,
           | (acc, i) -> acc + element_at(lag16, i) *
           |   pow(${1.0 - EwmaAlpha}D, $EwmaTaps - i))""".stripMargin)
        / lit(norm))
      .withColumn("s1", expr("aggregate(lag16, 0D, (acc, x) -> acc + x)"))
      .withColumn("s2", expr("aggregate(lag16, 0D, (acc, x) -> acc + x * x)"))
      .withColumn("sd", sqrt(greatest(lit(0.0),
        col("s2") / EwmaTaps
          - (col("s1") / EwmaTaps) * (col("s1") / EwmaTaps))))
      .withColumn("dev", abs(col("v") - col("ewma")))
      .withColumn("anom", round(col("dev"), 6) > round(col("sd") * 2.5, 6))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("anom"), 1L).otherwise(0L)).as("n_anom"),
        (round(max(col("dev")), 4) + lit(0.0)).as("max_dev"))
      .orderBy(col("event_type"))
  }

  private def streamEwmaAnomaly(s: SparkSession, dir: String): DataFrame =
    ewmaAnomalyBatch(Tables.load(s, dir, "events"))

  private val streamEwmaAnomalySql =
    """WITH e AS (
      | SELECT event_type, ts, event_id, value AS v FROM events),
      |r AS (
      | SELECT *,
      |  row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
      |  list(v) OVER (PARTITION BY event_type ORDER BY ts, event_id
      |    ROWS BETWEEN 16 PRECEDING AND 1 PRECEDING) AS lag16
      | FROM e),
      |s AS (
      | SELECT event_type, v,
      |  list_sum(list_transform(range(1, 17), i ->
      |    lag16[i] * pow(0.75, 16 - i))) / ((1.0 - pow(0.75, 16)) / 0.25)
      |    AS ewma,
      |  list_sum(lag16) AS s1,
      |  list_sum(list_transform(lag16, x -> x * x)) AS s2
      | FROM r WHERE rn > 16),
      |d AS (
      | SELECT event_type, abs(v - ewma) AS dev,
      |  sqrt(greatest(0.0, s2 / 16 - (s1 / 16) * (s1 / 16))) AS sd
      | FROM s)
      |SELECT event_type, count(*) AS n_scored,
      | CAST(sum(CASE WHEN round(dev, 6) > round(sd * 2.5, 6)
      |   THEN 1 ELSE 0 END) AS BIGINT) AS n_anom,
      | round(max(dev), 4) + 0 AS max_dev
      |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin

  /** G20 — CDC APPLY (the lake-maintenance loop: a change feed of
    * upserts and deletes folds into a queryable latest-state
    * snapshot). Latest-wins by (ts, event_id); a delete tombstones
    * the key (emitted with deleted=true so downstream sinks can drop
    * it); n_ops counts every feed row ever applied to the key. State
    * is ONE row per live key — O(keys), not O(feed) — on
    * transformWithState, so the RocksDB store and TTL surface the
    * sketch maintainers use apply here too.
    */
  class CdcProcessor extends StatefulProcessor[Long, CdcEvent, CdcSnap] {
    @transient private var state: ValueState[CdcSnap] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[CdcSnap]("cdc",
        org.apache.spark.sql.Encoders.product[CdcSnap], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[CdcEvent],
        timers: TimerValues): Iterator[CdcSnap] = {
      var cur = if (state.exists()) state.get()
        else CdcSnap(key, -1L, Long.MinValue, deleted = true, 0.0, 0L)
      rows.foreach { e =>
        val newer = e.ts_us > cur.last_ts_us ||
          (e.ts_us == cur.last_ts_us && e.event_id > cur.last_event_id)
        cur =
          if (newer)
            CdcSnap(key, e.event_id, e.ts_us, e.op == "delete",
              if (e.op == "delete") 0.0 else e.value, cur.n_ops + 1)
          else cur.copy(n_ops = cur.n_ops + 1)
      }
      state.update(cur)
      Iterator.single(cur)
    }
  }

  def cdcApplyStream(feed: Dataset[CdcEvent]): Dataset[CdcSnap] = {
    import feed.sparkSession.implicits._
    feed.groupByKey(_.user_id)
      .transformWithState(new CdcProcessor(),
        TimeMode.None(), OutputMode.Update())
  }

  /** G20 batch equivalent over any (user_id, event_id, ts, op, value)
    * frame: one window rank per key — the same latest-wins rule as
    * the maintainer, replayable by the oracle.
    */
  private[graft] def cdcApplyBatch(feed: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    feed
      .withColumn("rn", row_number().over(w))
      .withColumn("n_ops",
        count(lit(1)).over(Window.partitionBy(col("user_id"))).cast("long"))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("ts").cast("timestamp_ntz").as("last_ts"),
        (col("op") === "delete").as("deleted"),
        when(col("op") === "delete", 0.0).otherwise(col("value")).as("value"),
        col("n_ops"))
      .orderBy(col("user_id"))
  }

  // G20 batch equivalent on the events table: 'error' events are the
  // delete markers, everything else upserts (user_id, value).
  private def streamCdcApply(s: SparkSession, dir: String): DataFrame =
    cdcApplyBatch(Tables.load(s, dir, "events")
      .withColumn("op",
        when(col("event_type") === "error", "delete").otherwise("upsert")))

  private val streamCdcApplySql =
    """WITH e AS (
      | SELECT user_id, event_id, ts, value,
      |   CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
      | FROM events),
      |r AS (
      | SELECT *,
      |   row_number() OVER (PARTITION BY user_id
      |     ORDER BY ts DESC, event_id DESC) AS rn,
      |   count(*) OVER (PARTITION BY user_id) AS n_ops
      | FROM e)
      |SELECT user_id, event_id AS last_event_id, ts AS last_ts,
      | op = 'delete' AS deleted,
      | CASE WHEN op = 'delete' THEN 0.0 ELSE value END AS value, n_ops
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  // G2 batch equivalent — deterministic "first" via window rank
  // (batch dropDuplicates keeps an arbitrary row; the streaming path
  // keeps first-arrival, which equals earliest-ts on ordered input).
  private def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.load(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id").as("first_event_id"),
        col("ts").cast("timestamp_ntz").as("first_ts"))
      .orderBy(col("user_id"), col("event_type"))
  }

  private val streamDedupSql =
    """WITH r AS (
      | SELECT user_id, event_type, event_id, ts,
      |   row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      | FROM events
      |)
      |SELECT user_id, event_type, event_id AS first_event_id, ts AS first_ts
      |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  /** G22 streaming core: INCREMENTAL corpus dedup as a stream — the
    * streaming twin of J20. The digest registry is keyed state
    * (md5 → canonical first-arrival doc_id); each incoming doc gets an
    * ADMIT/REJECT decision plus the canonical pointer, and the
    * registry survives across micro-batches — exactly how a crawl
    * frontier dedups forever without re-reading the corpus. State per
    * key is ONE long; at scale this is the RocksDB-backed digest
    * index, sharded by the groupByKey hash. Within a batch, docs sort
    * by doc_id so first-arrival is deterministic and equals the batch
    * twin's min-per-digest.
    */
  def incrementalDedupStream(docs: Dataset[DocIn]): Dataset[DocDecision] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.h)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[DocIn], state: GroupState[Long]) => {
          val sorted = rows.toSeq.sortBy(_.doc_id)
          var canon = state.getOption.getOrElse(-1L)
          val out = sorted.map { d =>
            if (canon < 0) { canon = d.doc_id; DocDecision(d.doc_id, admitted = true, canon) }
            else DocDecision(d.doc_id, admitted = false, canon)
          }
          state.update(canon)
          out.iterator
        })
  }

  // G22 batch equivalent: min-per-digest over the whole table; a doc
  // is admitted iff it IS its digest's canonical row.
  private def streamIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("h"))
    Tables.load(s, dir, "documents")
      .withColumn("h", md5(col("text").cast("binary")))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .select(col("doc_id"), (col("doc_id") === col("canonical_id")).as("admitted"),
        col("canonical_id"))
      .orderBy(col("doc_id"))
  }

  private val streamIncrementalDedupSql =
    """WITH d AS (
      | SELECT doc_id, md5(text) AS h,
      |   min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
      | FROM documents)
      |SELECT doc_id, doc_id = canonical_id AS admitted, canonical_id
      |FROM d ORDER BY doc_id""".stripMargin

  /** Streaming transform: custom per-key session state via
    * flatMapGroupsWithState — 30-min-gap session ids per user,
    * continuing across micro-batches. Within a batch events are
    * ordered by (ts, event_id); across batches the state carries the
    * open session's id and last timestamp.
    */
  def sessionizeStream(events: Dataset[SessEvent]): Dataset[SessAssign] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[SessEvent], state: GroupState[SessState]) => {
          val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
          var (sid, last) = state.getOption
            .map(s => (s.sessionId, s.lastTs)).getOrElse((0L, Long.MinValue))
          val out = sorted.map { e =>
            if (last == Long.MinValue || e.ts_us - last > 1800000000L) sid += 1
            last = e.ts_us
            SessAssign(userId, e.event_id, sid)
          }
          state.update(SessState(sid, last))
          out.iterator
        })
  }

  // G3 batch equivalent — per-event session assignment via windows
  // (same gaps-and-islands arithmetic as q21, exposed per event).
  private def streamSession(s: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "events")
      .withColumn("us", unix_micros(col("ts").cast("timestamp")))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(wOrd))
      .withColumn("is_new", when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1).otherwise(0))
      .withColumn("session_id", sum(col("is_new")).over(wCum).cast("long"))
      .select(col("user_id"), col("event_id"), col("session_id"))
      .orderBy(col("user_id"), col("event_id"))
  }

  private val streamSessionSql =
    """WITH e AS (
      | SELECT user_id, event_id, ts,
      |   CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |          OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
      | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |)
      |SELECT user_id, event_id,
      |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |FROM e ORDER BY user_id, event_id""".stripMargin

  /** Streaming transform: stream-stream interval join — each click
    * pairs with the same user's purchases within the following 12
    * hours. Both sides watermarked so join state is bounded (Spark
    * drops buffered rows once the watermark passes the interval).
    */
  def clickPurchaseJoinStream(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    c.join(p, col("c_user") === col("p_user") &&
      col("p_ts") >= col("c_ts") &&
      col("p_ts") <= col("c_ts") + expr("INTERVAL 12 HOURS"))
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"))
  }

  // G5 batch equivalent — identical interval-join logic on the static
  // events table.
  private def streamJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
    val purchases = ev.filter(col("event_type") === "purchase")
    clickPurchaseJoinStream(clicks, purchases)
      .orderBy(col("click_id"), col("purchase_id"))
  }

  private val streamJoinSql =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
      |FROM events c JOIN events p
      | ON c.user_id = p.user_id AND c.event_type = 'click'
      | AND p.event_type = 'purchase'
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 12 HOUR
      |ORDER BY click_id, purchase_id""".stripMargin

  /** Streaming transform: stream-stream LEFT OUTER interval join —
    * like [[clickPurchaseJoinStream]] but clicks with no purchase in
    * the window emit with a null purchase once the watermark passes
    * the interval end (the state-timeout semantics outer streaming
    * joins need).
    */
  def clickPurchaseOuterStream(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    c.join(p, col("c_user") === col("p_user") &&
      col("p_ts") >= col("c_ts") &&
      col("p_ts") <= col("c_ts") + expr("INTERVAL 12 HOURS"), "left_outer")
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"))
  }

  // G6 batch equivalent — left interval join on the static table.
  private def streamJoinOuter(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
    val purchases = ev.filter(col("event_type") === "purchase")
    clickPurchaseOuterStream(clicks, purchases)
      .orderBy(col("click_id"), col("purchase_id"))
  }

  private val streamJoinOuterSql =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      | ON c.user_id = p.user_id
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 12 HOUR
      |ORDER BY click_id, purchase_id""".stripMargin

  /** Streaming transform (G7): per-shard HyperLogLog registers
    * maintained across micro-batches via mapGroupsWithState — the
    * streaming-sketch pattern for approximate distinct counts over an
    * unbounded stream. State is one FIXED-SIZE 2^p-byte buffer per
    * key (never the value set), so per-key state is O(1) no matter
    * how many items arrive — the property that makes this viable for
    * billions of events per key. Each batch emits the key's refreshed
    * estimate (Update mode). The register algebra is
    * [[graft.functions.HllSketch]] — the exact same hashing the batch
    * `graft_hll` aggregate uses, so an incrementally-maintained sketch
    * is byte-equal to the batch sketch over the union of the batches.
    */
  def hllMaintainStream(rows: Dataset[SketchRow],
      precision: Int = 12): Dataset[SketchEstimate] = {
    import rows.sparkSession.implicits._
    import graft.functions.HllSketch
    rows.groupByKey(_.shard)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (shard: Long, it: Iterator[SketchRow], state: GroupState[Array[Byte]]) => {
          val buf = state.getOption.getOrElse(HllSketch.emptyBuffer(precision))
          it.foreach(r => HllSketch.updateHashed(buf, precision,
            HllSketch.hashLong(r.item)))
          state.update(buf)
          SketchEstimate(shard, HllSketch.estimate(buf))
        })
  }

  /** Shared TTL surface for the transformWithState sketch maintainers
    * (G7/G10/G11/G12): with a `ttl` the processors run in
    * ProcessingTime mode and each key's sketch expires that long after
    * its last update — the bounded-state contract for unbounded key
    * cardinality (a 100 TB stream churns keys forever; idle keys must
    * leave the store). A returning key restarts from an empty sketch —
    * the documented trade, spec-asserted in StreamingSpec.
    */
  private def twsTimeMode(ttl: Option[java.time.Duration]): TimeMode =
    if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
  private def twsTtl(ttl: Option[java.time.Duration]): TTLConfig =
    ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)

  /** The same HLL maintenance through `transformWithState` — the
    * consolidation path for the whole sketch-maintainer family (G7,
    * G10-G12 share this shape): the register buffer becomes a named
    * ValueState on the processor handle, runs RocksDB-native, and
    * gains the TTL/timer surface mapGroupsWithState lacks. Registers
    * are the SAME HllSketch algebra, so the output is byte-equal to
    * [[hllMaintainStream]] and to the batch aggregate (spec-asserted).
    */
  class HllStatefulProcessor(precision: Int,
      ttl: Option[java.time.Duration] = None)
      extends StatefulProcessor[Long, SketchRow, SketchEstimate] {
    import graft.functions.HllSketch
    @transient private var state: ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[Array[Byte]]("hll",
        org.apache.spark.sql.Encoders.BINARY, twsTtl(ttl))

    override def handleInputRows(key: Long, rows: Iterator[SketchRow],
        timers: TimerValues): Iterator[SketchEstimate] = {
      val buf = if (state.exists()) state.get()
        else HllSketch.emptyBuffer(precision)
      rows.foreach(r => HllSketch.updateHashed(buf, precision,
        HllSketch.hashLong(r.item)))
      state.update(buf)
      Iterator.single(SketchEstimate(key, HllSketch.estimate(buf)))
    }
  }

  def hllMaintainTws(rows: Dataset[SketchRow], precision: Int = 12,
      ttl: Option[java.time.Duration] = None): Dataset[SketchEstimate] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.shard)
      .transformWithState(new HllStatefulProcessor(precision, ttl),
        twsTimeMode(ttl), OutputMode.Update())
  }

  /** G10's KLL maintainer on transformWithState: the serialized
    * compactor hierarchy is a named binary ValueState — same
    * [[graft.functions.KllOps]] algebra as [[kllMaintainStream]], so
    * fold order (and therefore the estimate) is identical for the same
    * batch sequence (spec-asserted value-equal).
    */
  class KllStatefulProcessor(k: Int, ttl: Option[java.time.Duration] = None)
      extends StatefulProcessor[Long, QuantRow, QuantEstimate] {
    import graft.functions.KllOps
    @transient private var state: ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[Array[Byte]]("kll",
        org.apache.spark.sql.Encoders.BINARY, twsTtl(ttl))

    override def handleInputRows(key: Long, rows: Iterator[QuantRow],
        timers: TimerValues): Iterator[QuantEstimate] = {
      val buf = if (state.exists()) KllOps.deserialize(state.get())
        else KllOps.empty()
      rows.foreach(r => KllOps.update(buf, k, r.value))
      state.update(KllOps.serialize(buf))
      Iterator.single(QuantEstimate(key, buf.n, KllOps.quantile(buf, 0.5)))
    }
  }

  def kllMaintainTws(rows: Dataset[QuantRow], k: Int = 400,
      ttl: Option[java.time.Duration] = None): Dataset[QuantEstimate] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.shard)
      .transformWithState(new KllStatefulProcessor(k, ttl),
        twsTimeMode(ttl), OutputMode.Update())
  }

  /** Counter-array state for [[CmsStatefulProcessor]] (product wrapper
    * so the depth×width longs ride a struct encoder).
    */
  final case class CmsState(counters: Array[Long])

  /** G11's Count-Min maintainer on transformWithState: the fixed
    * depth×width counter array as a named ValueState, same
    * [[graft.functions.CmsSketch]] hashing as [[cmsMaintainStream]] —
    * counter addition commutes, so the maintained estimate is
    * value-equal to the batch aggregate (spec-asserted).
    */
  class CmsStatefulProcessor(probe: Long, depth: Int, width: Int,
      ttl: Option[java.time.Duration] = None)
      extends StatefulProcessor[Long, SketchRow, FreqEstimate] {
    import graft.functions.CmsSketch
    @transient private var state: ValueState[CmsState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[CmsState]("cms",
        org.apache.spark.sql.Encoders.product[CmsState], twsTtl(ttl))

    override def handleInputRows(key: Long, rows: Iterator[SketchRow],
        timers: TimerValues): Iterator[FreqEstimate] = {
      val buf = if (state.exists()) state.get().counters
        else CmsSketch.empty(depth, width)
      rows.foreach(r => CmsSketch.updateLong(buf, depth, width, r.item))
      state.update(CmsState(buf))
      Iterator.single(FreqEstimate(key,
        CmsSketch.estimateLong(buf, depth, width, probe)))
    }
  }

  def cmsMaintainTws(rows: Dataset[SketchRow], probe: Long,
      depth: Int = 5, width: Int = 2048,
      ttl: Option[java.time.Duration] = None): Dataset[FreqEstimate] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.shard)
      .transformWithState(new CmsStatefulProcessor(probe, depth, width, ttl),
        twsTimeMode(ttl), OutputMode.Update())
  }

  /** G12's Misra-Gries maintainer on transformWithState, with the
    * summary as a RocksDB-native MapState — one state ENTRY per
    * retained counter rather than one serialized blob, so the store
    * point-reads/writes only the counters a batch touches (the
    * capacity is small here, but the shape is the one that scales:
    * per-entry TTL and no whole-map deserialize per batch). Restored
    * counters ARE an MG summary (same algebra as
    * [[topkMaintainStream]]), so the bound holds across batches.
    */
  class TopkStatefulProcessor(capacity: Int,
      ttl: Option[java.time.Duration] = None)
      extends StatefulProcessor[Long, TokRow, TopkState] {
    import graft.functions.MisraGries
    import org.apache.spark.sql.streaming.MapState
    @transient private var state: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getMapState[String, Long]("mg",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, twsTtl(ttl))

    override def handleInputRows(key: Long, rows: Iterator[TokRow],
        timers: TimerValues): Iterator[TopkState] = {
      val buf = MisraGries.empty(capacity)
      val before = scala.collection.mutable.Set.empty[String]
      state.iterator().foreach { kv =>
        before += kv._1
        buf.put(kv._1, java.lang.Long.valueOf(kv._2))
      }
      rows.foreach(r => MisraGries.update(buf, capacity, r.tok))
      val b = Map.newBuilder[String, Long]
      buf.forEach((k, v) => b += (k -> v.longValue()))
      val m = b.result()
      // write back as a DELTA: decremented-away counters are removed
      // entry-wise, surviving ones point-updated
      before.diff(m.keySet).foreach(state.removeKey)
      m.foreach { case (k, v) => state.updateValue(k, v) }
      Iterator.single(TopkState(key, m))
    }
  }

  def topkMaintainTws(rows: Dataset[TokRow], capacity: Int,
      ttl: Option[java.time.Duration] = None): Dataset[TopkState] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.shard)
      .transformWithState(new TopkStatefulProcessor(capacity, ttl),
        twsTimeMode(ttl), OutputMode.Update())
  }

  /** Dashboard-poll snapshots for the tws sketch maintainers — the
    * sketch-tier twin of [[graft.ecs.EcsStreamIngest.liveSnapshot]]:
    * read the maintainer's OWN keyed state through Spark's state data
    * source (scoped to the processor's named state variable) and
    * recompute the estimate from the stored sketch with the SAME
    * algebra object the processor used, so the snapshot equals the
    * last emitted estimate per shard without touching the query's
    * output stream. O(shards) rows off the latest committed batch;
    * no window, no history scan, no output-sink dependency — the
    * read a monitoring poller makes while the maintainer keeps
    * running.
    */
  def hllSnapshot(s: SparkSession, checkpoint: String): Dataset[SketchEstimate] = {
    import s.implicits._
    s.read.format("statestore").option("stateVarName", "hll").load(checkpoint)
      .select(col("key.value").as("_1"), col("value.value").as("_2"))
      .as[(Long, Array[Byte])]
      .map { case (shard, buf) =>
        SketchEstimate(shard, graft.functions.HllSketch.estimate(buf)) }
  }

  def kllSnapshot(s: SparkSession, checkpoint: String): Dataset[QuantEstimate] = {
    import s.implicits._
    s.read.format("statestore").option("stateVarName", "kll").load(checkpoint)
      .select(col("key.value").as("_1"), col("value.value").as("_2"))
      .as[(Long, Array[Byte])]
      .map { case (shard, bytes) =>
        val buf = graft.functions.KllOps.deserialize(bytes)
        QuantEstimate(shard, buf.n, graft.functions.KllOps.quantile(buf, 0.5)) }
  }

  def cmsSnapshot(s: SparkSession, checkpoint: String, probe: Long,
      depth: Int = 5, width: Int = 2048): Dataset[FreqEstimate] = {
    import s.implicits._
    s.read.format("statestore").option("stateVarName", "cms").load(checkpoint)
      .select(col("key.value").as("_1"), col("value.counters").as("_2"))
      .as[(Long, Array[Long])]
      .map { case (shard, counters) =>
        FreqEstimate(shard,
          graft.functions.CmsSketch.estimateLong(counters, depth, width, probe)) }
  }

  /** MapState reads come back one row per retained counter entry;
    * regrouping them rebuilds each shard's MG summary — the same rows
    * [[TopkStatefulProcessor]] would emit.
    */
  def topkSnapshot(s: SparkSession, checkpoint: String): Dataset[TopkState] = {
    import s.implicits._
    s.read.format("statestore").option("stateVarName", "mg").load(checkpoint)
      .select(col("key.value").as("shard"),
        col("user_map_key.value").as("tok"), col("user_map_value.value").as("cnt"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        TopkState(shard, it.map(e => e._2 -> e._3).toMap) }
  }

  // G7 batch equivalent — the same registers via the graft_hll
  // aggregate (register max-merge is order-insensitive, so the
  // incrementally-maintained stream estimate equals the one-shot batch
  // aggregate — asserted exactly in StreamingSpec). Oracle = exact
  // distinct + in-bounds boolean, the I1 pattern.
  private def streamSketch(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select((col("user_id") % 16).as("shard"), col("event_id"))
      .groupBy(col("shard"))
      .agg(countDistinct(col("event_id")).as("exact_items"),
        graft.functions.SketchAggregates.hll(col("event_id"), 12).as("approx"))
      .select(col("shard"), col("exact_items"),
        (abs(col("approx") - col("exact_items")) <=
          col("exact_items") * 0.05).as("hll_within_5pct"))
      .orderBy(col("shard"))

  private val streamSketchSql =
    """SELECT user_id % 16 AS shard,
      | count(DISTINCT event_id) AS exact_items,
      | true AS hll_within_5pct
      |FROM events GROUP BY shard ORDER BY shard""".stripMargin

  // G4 — ECS streaming ingestion (batch equivalent): the events table
  // folds into a World in two deterministic "micro-batches" (split by
  // event_id parity) through the same EcsStreamIngest.ingestBatch the
  // streaming bridge uses; output is the final live per-user state.
  // Oracle = the closed-form aggregate the two-step fold must equal.
  // Cross-micro-batch continuity over a real MemoryStream is proven in
  // StreamingSpec.
  private def streamEcsIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.ecs.{EcsStreamIngest, World}
    val world = World.make(s, simulation = "ingest_sim", run = "ingest_run",
      optimizeInterval = 0)
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    EcsStreamIngest.ingestBatch(world, ev.filter(col("event_id") % 2 === 0))
    EcsStreamIngest.ingestBatch(world, ev.filter(col("event_id") % 2 === 1))
    EcsStreamIngest.liveState(world)
      .getOrElse(sys.error("no live state after ingest"))
      .select(col("user_id"), round(col("total"), 2).as("total_value"),
        col("n_events"))
      .orderBy(col("user_id"))
  }

  private val streamEcsIngestSql =
    """SELECT user_id, round(sum(value), 2) AS total_value, count(*) AS n_events
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Streaming transform (G10): per-shard KLL quantile sketch
    * maintained across micro-batches via mapGroupsWithState — G7's
    * pattern for the quantile axis. State per key is the serialized
    * compactor hierarchy, O(k·log(n/k)) bytes however many values
    * arrive; each batch folds its values in and emits the refreshed
    * median estimate. Unlike HLL registers the KLL merge is
    * order-sensitive, so the stream sketch is not byte-equal to the
    * batch one — but the rank-error bound holds under ANY fold order,
    * which is what the spec and the I4-style oracle assert.
    */
  def kllMaintainStream(rows: Dataset[QuantRow],
      k: Int = 400): Dataset[QuantEstimate] = {
    import rows.sparkSession.implicits._
    import graft.functions.KllOps
    rows.groupByKey(_.shard)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (shard: Long, it: Iterator[QuantRow], state: GroupState[Array[Byte]]) => {
          val buf = state.getOption.map(KllOps.deserialize)
            .getOrElse(KllOps.empty())
          it.foreach(r => KllOps.update(buf, k, r.value))
          state.update(KllOps.serialize(buf))
          QuantEstimate(shard, buf.n, KllOps.quantile(buf, 0.5))
        })
  }

  // G10 batch equivalent — the graft_kll aggregate per shard, with the
  // I4 rank-check oracle pattern (exact median via percentile beside a
  // rank-bound boolean for the sketch).
  private def streamQuantile(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KllFunctions.kllQuantile
    val ev = Tables.load(s, dir, "events")
      .select((col("user_id") % 8).as("shard"), col("value"))
    val sk = ev.groupBy(col("shard"))
      .agg(kllQuantile(col("value"), 0.5).as("kll_p50"),
        round(expr("percentile(value, 0.5)"), 4).as("exact_p50"),
        count(lit(1)).as("n"))
    ev.join(broadcast(sk), Seq("shard"))
      .groupBy(col("shard"))
      .agg(first(col("exact_p50")).as("exact_p50"),
        first(col("n")).as("n"),
        (abs(count(when(col("value") <= col("kll_p50"), 1)) -
          first(col("n")) / 2) <= first(col("n")) * 0.03).as("kll_ok"))
      .orderBy(col("shard"))
  }

  private val streamQuantileSql =
    """SELECT user_id % 8 AS shard, round(quantile_cont(value, 0.5), 4) AS exact_p50,
      | count(*) AS n, true AS kll_ok
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Streaming transform (G13): NATIVE session windows — Spark's
    * session_window groupBy (dynamic-gap state merging inside the
    * streaming aggregation operator) instead of G3's hand-rolled
    * flatMapGroupsWithState sessionizer. A session extends while each
    * next event lands strictly inside [last, last + gap); the state
    * store merges overlapping windows across micro-batches.
    */
  def sessionWindowStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"), col("w.start").cast("timestamp_ntz").as("sess_start"),
        col("n_events"), col("total_value"))

  // G13 batch equivalent — the same native operator in batch (it plans
  // as sort + in-partition merge after ONE shuffle on user_id). The
  // oracle replays session semantics as gaps-and-islands: a NEW
  // session starts when the gap is >= 30 min (Spark merges only
  // strictly-inside events).
  private def streamSessionWindow(s: SparkSession, dir: String): DataFrame =
    sessionWindowStream(Tables.load(s, dir, "events"))
      .orderBy(col("user_id"), col("sess_start"))

  private val streamSessionWindowSql =
    """WITH e AS (
      | SELECT user_id, ts, value,
      |   CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |          OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
      |        THEN 1 ELSE 0 END AS is_new
      | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |),
      |sess AS (
      | SELECT user_id, ts, value,
      |   sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
      |     ROWS UNBOUNDED PRECEDING) AS sid
      | FROM e)
      |SELECT user_id, min(ts) AS sess_start,
      | count(*) AS n_events, round(sum(value), 2) AS total_value
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, sess_start""".stripMargin

  /** Streaming transform (G11): per-shard Count-Min counters
    * maintained across micro-batches via mapGroupsWithState — the
    * frequency axis next to G7 (distinct) and G10 (quantiles). State
    * per key is the fixed depth×width counter array regardless of
    * stream length; each batch folds its items in and emits the
    * refreshed point estimate for `probe`. Counter addition is order-
    * and batching-insensitive, so the maintained sketch is VALUE-EQUAL
    * to the batch `graft_cms` aggregate over the union of the batches
    * (asserted exactly in StreamingSpec) — the algebra is
    * [[graft.functions.CmsSketch]], the same hashing the aggregate
    * uses.
    */
  def cmsMaintainStream(rows: Dataset[SketchRow], probe: Long,
      depth: Int = 5, width: Int = 2048): Dataset[FreqEstimate] = {
    import rows.sparkSession.implicits._
    import graft.functions.CmsSketch
    rows.groupByKey(_.shard)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (shard: Long, it: Iterator[SketchRow], state: GroupState[Array[Long]]) => {
          val buf = state.getOption.getOrElse(CmsSketch.empty(depth, width))
          it.foreach(r => CmsSketch.updateLong(buf, depth, width, r.item))
          state.update(buf)
          FreqEstimate(shard, CmsSketch.estimateLong(buf, depth, width, probe))
        })
  }

  // G11 batch equivalent — per-shard CMS over a 64-value item domain,
  // probing item 7 (the aggregate needs a constant probe). Oracle =
  // exact per-shard count of the probe item beside the I2 bound
  // (never undercounts; overshoot ≤ ε·n_shard, ε = e/width).
  private def streamCms(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .select((col("user_id") % 8).as("shard"),
        (col("event_id") % 64).cast("long").as("item"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("item") === 7L, 1L).otherwise(0L)).as("exact_7"),
        graft.functions.SketchAggregates.cmsEstimate(col("item"), lit(7L)).as("est"))
      .select(col("shard"), col("n"), col("exact_7"),
        (col("est") >= col("exact_7") &&
          col("est") <= col("exact_7") + col("n") * 0.0014).as("cms_ok"))
      .orderBy(col("shard"))

  private val streamCmsSql =
    """SELECT user_id % 8 AS shard, count(*) AS n,
      | CAST(count(*) FILTER (WHERE event_id % 64 = 7) AS BIGINT) AS exact_7,
      | true AS cms_ok
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Streaming transform (G12): per-shard Misra-Gries heavy hitters
    * maintained across micro-batches — the frequency-RANKING axis
    * next to G7/G11's counts. State per key is ≤ capacity counters
    * however long the stream; restored counters ARE an MG summary, so
    * continuing update() on them is exactly the single-stream
    * algorithm and the exact−n/(k+1) ≤ est ≤ exact bound holds over
    * the concatenated batches (spec-asserted with a planted heavy
    * key). Emits the refreshed summary each batch.
    */
  def topkMaintainStream(rows: Dataset[TokRow], capacity: Int): Dataset[TopkState] = {
    import rows.sparkSession.implicits._
    import graft.functions.MisraGries
    rows.groupByKey(_.shard)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (shard: Long, it: Iterator[TokRow], state: GroupState[Map[String, Long]]) => {
          val buf = MisraGries.empty(capacity)
          state.getOption.foreach(_.foreach { case (k, v) =>
            buf.put(k, java.lang.Long.valueOf(v)) })
          it.foreach(r => MisraGries.update(buf, capacity, r.tok))
          val b = Map.newBuilder[String, Long]
          buf.forEach((k, v) => b += (k -> v.longValue()))
          val m = b.result()
          state.update(m)
          TopkState(shard, m)
        })
  }

  // G12 batch equivalent — per-shard graft_topk over document tokens
  // (a lossy capacity-8 summary vs ~31 distinct), I5's always-true MG
  // bound asserted for each shard's exact top-3.
  private def streamTopk(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.SketchAggregates
    val toks = Tables.load(s, dir, "documents")
      .select((col("doc_id") % 4).as("shard"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val summaries = toks.groupBy(col("shard"))
      .agg(SketchAggregates.topK(col("tok"), 8).as("mg"),
        count(lit(1)).as("n_total"))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("n_exact").desc, col("tok"))
    val top3 = toks.groupBy(col("shard"), col("tok"))
      .agg(count(lit(1)).as("n_exact"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
    val est = coalesce(element_at(col("mg"), col("tok")), lit(0L))
    top3.join(broadcast(summaries), Seq("shard"))
      .select(col("shard"), col("rn").cast("long").as("rn"), col("tok"),
        col("n_exact"),
        (est <= col("n_exact") &&
          est * 9 >= col("n_exact") * 9 - col("n_total")).as("mg_in_bounds"))
      .orderBy(col("shard"), col("rn"))
  }

  private val streamTopkSql =
    """WITH t AS (
      | SELECT doc_id % 4 AS shard,
      |   unnest(string_split(lower(text), ' ')) AS tok
      | FROM documents),
      |f AS (SELECT shard, tok, count(*) AS n_exact FROM t WHERE tok <> ''
      |      GROUP BY shard, tok),
      |r AS (SELECT shard, tok, n_exact,
      |        CAST(row_number() OVER (PARTITION BY shard
      |          ORDER BY n_exact DESC, tok) AS BIGINT) AS rn
      |      FROM f)
      |SELECT shard, rn, tok, n_exact, true AS mg_in_bounds
      |FROM r WHERE rn <= 3 ORDER BY shard, rn""".stripMargin

  /** Streaming transform (G14): EXACTLY-ONCE file sink via
    * foreachBatch + batchId-keyed overwrite. Spark's foreachBatch is
    * at-least-once (a crash between the write and the checkpoint
    * commit replays the batch); writing each batch to its own
    * `batch=<id>` partition with overwrite makes the replay IDEMPOTENT
    * — the retried batch replaces itself, never duplicates. This is
    * the standard exactly-once recipe for non-transactional sinks
    * (the output dir is the "transaction log": batchId is the
    * idempotence key).
    */
  def exactlyOnceSink(events: DataFrame, outDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite")
          .parquet(s"$outDir/batch=$batchId")
      }
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .start()

  // G14 batch equivalent — two batch-keyed writes with batch 1
  // REWRITTEN (simulating the at-least-once replay); the read-back
  // aggregate equals the plain-events aggregate only if the replay
  // replaced rather than appended. Oracle = the plain aggregate.
  private def streamExactlyOnce(s: SparkSession, dir: String): DataFrame = {
    val tmp = TmpDir.scratch("eos")
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val b0 = ev.filter(col("event_id") % 2 === 0)
    val b1 = ev.filter(col("event_id") % 2 === 1)
    b0.write.mode("overwrite").parquet(s"$tmp/batch=0")
    b1.write.mode("overwrite").parquet(s"$tmp/batch=1")
    b1.write.mode("overwrite").parquet(s"$tmp/batch=1") // the replay
    s.read.parquet(tmp).drop("batch")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("event_id")).as("n_distinct"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("event_type"))
  }

  private val streamExactlyOnceSql =
    """SELECT event_type, count(*) AS n,
      | count(DISTINCT event_id) AS n_distinct,
      | round(sum(value), 2) AS total_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // G9 — durable streaming ingestion: every micro-batch both folds
  // into the world (G4's O(delta) path) AND publishes one atomic
  // durable commit, so the simulation survives a driver restart with
  // at-most-one-batch recovery work and every batch boundary is a
  // time-travelable version. The query proves both: the live state is
  // read from a FRESH store re-attached off the commit log (restart
  // semantics), and the batch-1 state is read via attachDurable at
  // commit 0 (time travel) — each per user, DuckDB-replayed.
  private def streamDurableIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.ecs.{ArchetypeStore, EcsStreamIngest, World}
    val tmp = TmpDir.scratch("di")
    val world = World.make(s, simulation = "ingest_sim", run = "ingest_run",
      optimizeInterval = 0)
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    EcsStreamIngest.ingestBatch(world, ev.filter(col("event_id") % 2 === 0))
    world.store.commitDelta(tmp) // commit 0 = batch-1 boundary
    EcsStreamIngest.ingestBatch(world, ev.filter(col("event_id") % 2 === 1))
    world.store.commitDelta(tmp) // commit 1 = tip
    def stateOf(atCommit: Option[Long], tag: String): DataFrame = {
      val store = new ArchetypeStore(s, "ingest_sim", "ingest_run")
      store.attachDurable(Seq(EcsStreamIngest.meta), tmp, atCommit)
      EcsStreamIngest.liveState(store)
        .getOrElse(sys.error(s"no live state at $tag"))
        .select(lit(tag).as("version"), col("user_id"),
          round(col("total"), 2).as("total_value"), col("n_events"))
    }
    stateOf(Some(0L), "b1").unionByName(stateOf(None, "tip"))
      .orderBy(col("version"), col("user_id"))
  }

  private val streamDurableIngestSql =
    """SELECT * FROM (
      | SELECT 'b1' AS version, user_id, round(sum(value), 2) AS total_value,
      |   count(*) AS n_events
      | FROM events WHERE event_id % 2 = 0 GROUP BY user_id
      | UNION ALL
      | SELECT 'tip' AS version, user_id, round(sum(value), 2) AS total_value,
      |   count(*) AS n_events
      | FROM events GROUP BY user_id
      |) ORDER BY version, user_id""".stripMargin

  /** Streaming transform (G8): enrich a stream with a STATIC dimension
    * — the stream-static broadcast join. Stateless (no watermark, no
    * state store): each micro-batch hash-probes the broadcast
    * dimension, which is exactly how a 100 TB ingest enriches events
    * against reference data without shuffling the stream.
    */
  def staticJoinStream(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(
      broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
      col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_mktsegment"), col("value"))

  // G8 batch equivalent — same enrichment aggregated per (segment,
  // event type).
  private def streamStaticJoin(s: SparkSession, dir: String): DataFrame =
    staticJoinStream(Tables.load(s, dir, "events"), Tables.load(s, dir, "customer"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("c_mktsegment"), col("event_type"))

  private val streamStaticJoinSql =
    """SELECT c_mktsegment, event_type, count(*) AS n,
      | round(sum(value), 2) AS total_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment, event_type
      |ORDER BY c_mktsegment, event_type""".stripMargin

  /** Explicit schema for the file-drop ingest (file stream sources
    * must never infer — a torn half-written file would poison the
    * inferred schema).
    */
  val FileIngestSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))

  // G17 — FILE-SOURCE ingest (batch equivalent): events land as two
  // JSON "drops" in one directory — the batch-file-drop pattern every
  // lake ingest starts from — then aggregate per type off the files.
  // The REAL incremental path is in StreamingSpec: readStream over
  // the same directory with Trigger.AvailableNow (drain everything
  // available, checkpoint, terminate — the production
  // incremental-batch shape), resuming from the checkpoint picks up
  // only newly landed files.
  private def streamFileIngest(s: SparkSession, dir: String): DataFrame = {
    val tmp = TmpDir.scratch("fileingest")
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    ev.filter(col("event_id") % 2 === 0).write.mode("overwrite").json(tmp)
    ev.filter(col("event_id") % 2 === 1).write.mode("append").json(tmp)
    // small per-type aggregate — pin and drop the JSON drop-dir eagerly
    TmpDir.releasing(
      s.read.schema(FileIngestSchema).json(tmp)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("event_type")),
      tmp)
  }

  private val streamFileIngestSql =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** G21 streaming core: enrich a micro-batch of events with the
    * latest order at-or-before each event's ts via the NATIVE as-of
    * operator (plans.AsOfJoin — sort-merge, one shuffle per side).
    * This is the composition gap between the streaming tier and the
    * as-of tier: Structured Streaming cannot run a stateful as-of
    * merge natively, and the production shape is exactly this —
    * foreachBatch applies the batch as-of against a dimension
    * snapshot per micro-batch. As-of enrichment is per-row, so
    * micro-batch boundaries commute with the join and the streamed
    * union equals the whole-table batch run.
    */
  def asofEnrichBatch(events: DataFrame, orders: DataFrame): DataFrame = {
    graft.plans.AsOfJoin.install(events.sparkSession)
    val ord = orders
      .repartition(col("o_custkey"))
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
      .select(col("o_custkey"),
        col("o_orderdate").cast("timestamp_ntz").as("o_time"),
        col("o_orderkey"))
    val ev = events.select(col("event_id"), col("user_id"),
      col("ts").cast("timestamp_ntz").as("ts"), col("value"))
    graft.plans.AsOfJoin.join(ev, ord, "user_id", "ts", "o_custkey", "o_time")
      .select(col("event_id"), col("user_id"), col("o_orderkey"), col("value"))
  }

  // G21 batch equivalent: replay the stream as two micro-batches
  // through the SAME enrichment core (parity split — order
  // irrelevant, enrichment is per-row), union, and aggregate to the
  // verifiable summary.
  private def streamAsofEnrich(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val ord = Tables.load(s, dir, "orders")
    val batches = Seq(
      ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 === 1))
    batches.map(asofEnrichBatch(_, ord))
      .reduce(_ unionByName _)
      .groupBy(col("o_orderkey").isNotNull.as("matched"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("o_orderkey")).as("n_orders"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("matched"))
  }

  private val streamAsofEnrichSql =
    """WITH ord AS (
      | SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      | FROM orders GROUP BY o_custkey, o_orderdate),
      |j AS (
      | SELECT e.event_id, e.value, o.o_orderkey
      | FROM events e ASOF LEFT JOIN ord o
      |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate)
      |SELECT o_orderkey IS NOT NULL AS matched, count(*) AS n_events,
      | CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
      | round(sum(value), 2) AS total_value
      |FROM j GROUP BY 1 ORDER BY matched""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_drift_psi" -> (streamDriftPsi _),
    "stream_sliding_window" -> (streamSlidingWindow _),
    "stream_funnel" -> (streamFunnel _),
    "stream_cusum" -> (streamCusum _),
    "stream_incremental_dedup" -> (streamIncrementalDedup _),
    "stream_asof_enrich" -> (streamAsofEnrich _),
    "stream_window_agg" -> (streamWindowAgg _),
    "stream_dedup" -> (streamDedup _),
    "stream_session" -> (streamSession _),
    "stream_ecs_ingest" -> (streamEcsIngest _),
    "stream_join" -> (streamJoin _),
    "stream_join_outer" -> (streamJoinOuter _),
    "stream_sketch" -> (streamSketch _),
    "stream_static_join" -> (streamStaticJoin _),
    "stream_durable_ingest" -> (streamDurableIngest _),
    "stream_quantile" -> (streamQuantile _),
    "stream_cms" -> (streamCms _),
    "stream_session_window" -> (streamSessionWindow _),
    "stream_topk" -> (streamTopk _),
    "stream_exactly_once" -> (streamExactlyOnce _),
    "stream_dedup_watermark" -> (streamDedupWatermark _),
    "stream_tws" -> (streamTws _),
    "stream_text_gate" -> (streamTextGate _),
    "stream_pack" -> (streamPack _),
    "stream_cdc_apply" -> (streamCdcApply _),
    "stream_ewma_anomaly" -> (streamEwmaAnomaly _),
    "stream_late_metrics" -> (streamLateMetrics _),
    "stream_rate_limit" -> (streamRateLimit _),
    "stream_gap_detect" -> (streamGapDetect _),
    "stream_file_ingest" -> (streamFileIngest _))

  val oracles: Map[String, String] = Map(
    "stream_drift_psi" -> streamDriftPsiSql,
    "stream_sliding_window" -> streamSlidingWindowSql,
    "stream_funnel" -> streamFunnelSql,
    "stream_cusum" -> streamCusumSql,
    "stream_incremental_dedup" -> streamIncrementalDedupSql,
    "stream_asof_enrich" -> streamAsofEnrichSql,
    "stream_window_agg" -> streamWindowAggSql,
    "stream_dedup" -> streamDedupSql,
    "stream_session" -> streamSessionSql,
    "stream_ecs_ingest" -> streamEcsIngestSql,
    "stream_join" -> streamJoinSql,
    "stream_join_outer" -> streamJoinOuterSql,
    "stream_sketch" -> streamSketchSql,
    "stream_static_join" -> streamStaticJoinSql,
    "stream_durable_ingest" -> streamDurableIngestSql,
    "stream_quantile" -> streamQuantileSql,
    "stream_cms" -> streamCmsSql,
    "stream_session_window" -> streamSessionWindowSql,
    "stream_topk" -> streamTopkSql,
    "stream_exactly_once" -> streamExactlyOnceSql,
    "stream_dedup_watermark" -> streamDedupWatermarkSql,
    "stream_tws" -> streamTwsSql,
    "stream_text_gate" -> streamTextGateSql,
    "stream_pack" -> streamPackSql,
    "stream_cdc_apply" -> streamCdcApplySql,
    "stream_ewma_anomaly" -> streamEwmaAnomalySql,
    "stream_late_metrics" -> streamLateMetricsSql,
    "stream_rate_limit" -> streamRateLimitSql,
    "stream_gap_detect" -> streamGapDetectSql,
    "stream_file_ingest" -> streamFileIngestSql)
}
