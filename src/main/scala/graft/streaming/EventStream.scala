package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.functions.Det.r4
import graft.operators.StoreOps
import graft.sources.Tables

/** Per-user session accumulator carried across micro-batches (top-level:
  * encoder codegen needs public classes). */
final case class SessionState(lastTsUs: Long, nEvents: Long, nSessions: Long)

/** Streaming output row — same shape as the batch q28 report. */
final case class UserSessions(user_id: Long, n_events: Long, n_sessions: Long)

/** Projected input event for the stateful sessionizer. */
final case class Ev(user_id: Long, ts_us: Long, event_id: Long)

/** Structured Streaming over the `events` table (SURVEY §7 step 7): the
  * streaming twin of EventOps.q29 — identical grouping, so draining the
  * stream over the same files must reproduce the batch answer exactly
  * (batch/stream parity is asserted by StreamingSpec).
  *
  * Scale shape: a 1-hour tumbling window with a 1-hour watermark keeps
  * state bounded to ~one window per key; at 100 TB the same plan runs
  * against a Kafka/files source with checkpointing — only the source and
  * sink lines change.
  */
object EventStream {

  /** Raw parquet schema of `events`, matching how the corpus was
    * written: the streaming file source needs the schema declared up
    * front, so probe the file's batch schema once (footer-only) and
    * declare `ts` as the type actually on disk — nanosecond LONG for the
    * legacy corpus (Spark 4 rejects TIMESTAMP(NANOS) otherwise; see
    * Tables.events), TIMESTAMP_NTZ for the µs corpus (r11). A mismatched
    * declared type would silently misread the column, not error. */
  def rawSchema(spark: SparkSession, dir: String): StructType = {
    // batch/stream parity starts at the loader: the nanosecond-corpus
    // probe below needs the same legacy conf the batch loader adopts —
    // without this a foreign session's streaming twins (q46/q47/...)
    // throw PARQUET_TYPE_ILLEGAL where their batch twins succeed
    Tables.adoptRequiredConfs(spark)
    val tsType = Tables.table(spark, dir, "events").schema("ts").dataType
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
  }

  /** Streaming source over the events parquet with the same µs-timestamp
    * normalization — and the same conf adoption — as the batch loader. */
  def source(spark: SparkSession, dir: String): DataFrame = {
    Tables.adoptRequiredConfs(spark)
    val raw = spark.readStream
      .schema(rawSchema(spark, dir))
      // the streaming file source wants a directory; glob down to the
      // events table inside the sf dir
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Tumbling 1-hour windowed counts + value sums per event type. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), r4(sum(col("value"))).as("sum_value"))
      .select(unix_micros(col("window.start")).as("bucket_us"),
        col("event_type"), col("n"), col("sum_value"))

  /** Start the job into an in-memory sink (complete mode: every window is
    * visible once the finite input drains — the local test harness shape;
    * a production sink would use append + checkpointing). */
  def startToMemory(spark: SparkSession, dir: String,
                    queryName: String): StreamingQuery =
    hourlyAgg(source(spark, dir))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()

  // ---- stateful sessionization (flatMapGroupsWithState) ---------------

  private val GapUs = graft.operators.EventOps.GapUs // q28's gap, by reference

  /** Gap-based sessionization as arbitrary streaming state
    * (`flatMapGroupsWithState` over `groupByKey(user_id)`) — the custom-
    * state operator family the tumbling-window job can't express. Each
    * micro-batch folds its (ts, event_id)-sorted events into the carried
    * `SessionState`; a session break is a gap > 30 min against the last
    * seen timestamp. Emits the running per-user totals in Update mode.
    *
    * Correctness contract: equals the batch q28 window/lag plan when
    * micro-batches arrive in per-user timestamp order (single finite file
    * → single batch in the parity spec). At 100 TB the same operator runs
    * over Kafka with event-time ordering per key and checkpointed state —
    * state is O(1) per user (three longs), so the state store stays tiny
    * regardless of corpus size.
    */
  def sessionCounts(events: DataFrame): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSessions](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state: GroupState[SessionState]) =>
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          it.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            val isBreak = st.lastTsUs == Long.MinValue || e.ts_us - st.lastTsUs > GapUs
            st = SessionState(e.ts_us, st.nEvents + 1,
              st.nSessions + (if (isBreak) 1 else 0))
          }
          state.update(st)
          Iterator.single(UserSessions(uid, st.nEvents, st.nSessions))
      }
  }

  def startSessionsToMemory(spark: SparkSession, dir: String,
                            queryName: String): StreamingQuery =
    sessionCounts(source(spark, dir))
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(queryName)
      .start()

  // ---- q46: the streaming path behind the correctness gate -------------

  /** Gate for the post-drain state-store unload below (default on).
    * `StateStore.unloadAll()` is JVM-GLOBAL: a process hosting a
    * STANDING stateful stream (e.g. behind RestServer) concurrently
    * with finite drains would have that stream's providers closed
    * mid-execution — forcing snapshot reload/recompute or transient
    * task failures on its next batch. Such a host sets this to `false`
    * and accepts the (drain-count-proportional) maintenance
    * accumulation instead, or drains in a separate session/process. */
  val DrainUnloadConf = "spark.graft.stream.drainUnloadStateStores"

  /** Shuffle-partition pin for the graded finite drains (r20, the q88
    * precedent generalized — guide §2.4/§2.2: state-store count is sized
    * to STATE VOLUME, not to the batch engine's parallelism). Every
    * stateful operator keeps one state store PER SHUFFLE PARTITION and
    * every micro-batch pays a per-store commit; at the session's
    * cores-sized partition count (32 here) a single-operator drain
    * commits 32 stores per batch for state that fits in a handful —
    * measured on q88 (4 stores/partition, stream-stream join): 6.5 s at
    * 32 partitions vs ~2 s at 4. This is the standard
    * streaming-deployment knob and is BAKED into a production checkpoint
    * at first start; the graded drains use a fresh ephemeral checkpoint
    * per invocation, so pinning it per drain mirrors that one-time
    * sizing. A production deployment with large keyspaces raises it via
    * this conf (state volume / target store size), exactly like it would
    * size `spark.sql.shuffle.partitions` for its own checkpoint. The
    * session default is restored right after query START — the stream
    * executes on a cloned session, so the pin never leaks into batch
    * plans (q47/q67/q88's post-drain reductions keep the session's
    * scale-adaptive setting). */
  val DrainShufflePartitionsConf = "spark.graft.stream.drainShufflePartitions"

  /** No-data micro-batch gate for the graded finite drains (r21 —
    * VERDICT r20 #7: the floor cohort is micro-batch count × per-batch
    * cost). After the data batches, Structured Streaming runs an EXTRA
    * empty micro-batch (`spark.sql.streaming.noDataMicroBatches.enabled`,
    * default true) so watermark-driven work (append-mode aggregation
    * flushes, outer-join emission, state eviction, event-time timeouts)
    * happens promptly. None of the graded drains needs it: they run
    * complete-mode aggregations, update-mode flatMapGroupsWithState,
    * append-mode dedup and INNER stream-stream joins, and stateless
    * maps — every graded row is emitted in the data batch that read it,
    * and a drain's state dies with `q.stop()` anyway. Skipping the
    * empty batch removes one full cycle of incremental planning +
    * per-store commits + offset/commit-log writes per drain. A
    * PRODUCTION standing stream keeps the default (set this conf to
    * `true` for hosts draining append-mode windowed aggregations, which
    * DO flush on the no-data batch). */
  val DrainNoDataBatchesConf = "spark.graft.stream.drainNoDataBatches"

  /** One fixed sink name per graded query, dropped before each restart:
    * per-invocation unique names would leak a full result copy + stopped
    * query registration into the driver catalog on every run (bench runs
    * each query 4×; its unpersist hygiene clears RDD blocks, not temp
    * views). Consequence: invocations of the same graded query are
    * serialized — the Verify/Bench contract, not a serving path; the
    * same assumption (no OTHER stateful streaming query running in this
    * JVM during a drain) covers the post-drain unload, see
    * [[DrainUnloadConf]].
    *
    * CALL-SITE CONTRACT for the by-name `start` block (r21, per advice):
    * the shuffle-partition pin below covers the whole block, so the
    * block must be PLAN CONSTRUCTION + `.start()` ONLY — any batch
    * setup work inside it (layout builds, StandingCache materialization)
    * would silently plan those batch jobs at the drain's 4 partitions.
    * Do setup before calling. The set/restore of the session conf also
    * assumes a SINGLE-THREADED caller (the Verify/Bench contract this
    * helper already states): a concurrent caller could read the pinned
    * value as its `prev` and leak the pin into the session default. */
  private[graft] def drainToTable(spark: SparkSession, name: String,
                           start: => StreamingQuery): DataFrame = {
    spark.catalog.dropTempView(name) // idempotent; frees the prior run
    val key = "spark.sql.shuffle.partitions"
    val nodataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.get(key)
    val prevNodata = spark.conf.get(nodataKey)
    spark.conf.set(key,
      spark.conf.getOption(DrainShufflePartitionsConf).getOrElse("4"))
    spark.conf.set(nodataKey,
      spark.conf.getOption(DrainNoDataBatchesConf).getOrElse("false"))
    // the pins only need to cover .start(): StreamExecution clones the
    // session in its constructor, so the drain keeps the pinned values
    // for its whole lifetime while the caller's session gets its
    // scale-adaptive defaults back before any post-drain batch plan
    val q = try start finally {
      spark.conf.set(key, prev)
      spark.conf.set(nodataKey, prevNodata)
    }
    try q.processAllAvailable() finally q.stop()
    // a finite drain is DONE with its state: unload the providers this
    // query loaded (and the shared maintenance task — it restarts
    // lazily), or a harness draining thousands of short stateful
    // streams in one JVM accumulates provider/maintenance debt that
    // progressively taxes later drains (measured: ~3× per-drain by
    // ~250 drains; see CatalystBridge.resetStateStores). JVM-global —
    // gated for hosts with standing stateful streams ([[DrainUnloadConf]])
    if (!spark.conf.getOption(DrainUnloadConf).contains("false"))
      org.apache.spark.sql.graft.CatalystBridge.resetStateStores()
    spark.table(name)
  }

  /** q46: drain the file-source STREAM over `events` through the
    * tumbling-window aggregation and return the sink table. The plan that
    * computes these rows is a genuine streaming query (readStream →
    * watermark → windowed agg → memory sink, complete mode); the finite
    * corpus makes it terminate, and the result must hash-match the batch
    * q29 oracle — the batch/stream parity StreamingSpec asserts in-JVM,
    * now pinned by the external DuckDB gate as well. */
  def q46(spark: SparkSession, dir: String): DataFrame =
    drainToTable(spark, "graft_q46_sink",
      startToMemory(spark, dir, "graft_q46_sink"))
      .orderBy(col("bucket_us"), col("event_type"))

  /** q47: the STATEFUL streaming operator behind the gate — gap-based
    * sessionization via `flatMapGroupsWithState`, drained over the finite
    * `events` corpus and reduced to each user's final state. Counters are
    * monotone across micro-batches, so `max` per user is the final
    * emission regardless of how the file source batches the input. Must
    * hash-match the batch q28 window/lag oracle. */
  def q47(spark: SparkSession, dir: String): DataFrame =
    drainToTable(spark, "graft_q47_sink",
      startSessionsToMemory(spark, dir, "graft_q47_sink"))
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"),
        max(col("n_sessions")).as("n_sessions"))
      .orderBy(col("user_id"))

  // ---- q67: streaming dedup (dropDuplicatesWithinWatermark) -----------

  /** Watermarked streaming dedup on (user_id, event_type) — the
    * at-least-once ingestion guard for a streaming pipeline: re-delivered
    * keys are dropped while they are inside the watermark horizon, and
    * state holds one entry per key seen within that horizon, so it AGES
    * OUT (plain streaming dropDuplicates keeps every key forever — the
    * unbounded-state shape this operator exists to replace at scale).
    * Emits first-seen rows in append mode. */
  def startDedupToMemory(spark: SparkSession, dir: String,
                         queryName: String): StreamingQuery =
    source(spark, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .start()

  /** q67: drain the watermarked streaming dedup and report the KEY SET —
    * the invariant the operator must preserve. Which physical row
    * represents a key, and whether a key re-emits after its horizon
    * expires, are both allowed to vary (that is the bounded-state trade);
    * the key set is not: it must equal the batch DISTINCT exactly, so the
    * drained sink is reduced to distinct keys before comparing. The
    * within-horizon single-emission guarantee is pinned separately by
    * StreamingSpec (a key duplicated inside one micro-batch lands in the
    * sink once).
    *
    * Key-set-equals-DISTINCT additionally assumes no key's rows arrive
    * ONLY in a batch whose event times sit behind an already-advanced
    * watermark — dropDuplicatesWithinWatermark drops such late rows
    * outright, which is its contract, not a bug. The single-file fixture
    * drains as one micro-batch, so the assumption holds here by
    * construction (the q47 single-batch caveat, stated rather than
    * assumed); a multi-file deployment keys the same guarantee to its
    * watermark delay covering the source's disorder. */
  def q67(spark: SparkSession, dir: String): DataFrame =
    drainToTable(spark, "graft_q67_sink",
      startDedupToMemory(spark, dir, "graft_q67_sink"))
      .distinct()
      .orderBy(col("user_id"), col("event_type"))

  val q67Sql: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  // ---- q70: stream-static enrichment join ------------------------------

  /** The remaining core streaming operator class: a STREAM joined to a
    * STATIC dimension (event stream ⋈ customer on user_id = c_custkey),
    * then aggregated per market segment. The static side is a plain
    * batch DataFrame — Spark re-plans it per micro-batch and, being
    * dimension-sized, it broadcasts: the stream side never shuffles for
    * the join, which is exactly the 100 TB shape (the alternative,
    * shuffling the stream by join key every batch, is the plan this
    * operator exists to avoid). */
  def startEnrichedToMemory(spark: SparkSession, dir: String,
                            queryName: String): StreamingQuery =
    source(spark, dir)
      .join(graft.sources.Tables.table(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), r4(sum(col("value"))).as("sum_value"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()

  /** q70: drain the stream-static join + segment aggregation; must
    * hash-match the batch join in DuckDB. */
  def q70(spark: SparkSession, dir: String): DataFrame =
    drainToTable(spark, "graft_q70_sink",
      startEnrichedToMemory(spark, dir, "graft_q70_sink"))
      .orderBy(col("c_mktsegment"))

  val q70Sql: String =
    s"""SELECT c_mktsegment, count(*) AS n,
       |       ${graft.functions.Det.r4Sql("sum(value)")} AS sum_value
       |FROM events JOIN customer ON user_id = c_custkey
       |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  // ---- q88: stream-stream event-time join ------------------------------

  /** The last core Structured Streaming operator class: TWO watermarked
    * streams joined on an event-time RANGE predicate — the streaming
    * form of q82's purchases⋈errors-within-±5min. Both sides carry a
    * watermark and the join condition bounds `e_ts` to a window around
    * `p_ts`, which is exactly what lets Spark derive a state eviction
    * bound per side: a buffered purchase can be dropped once the error
    * watermark passes `p_ts + 5min`, and vice versa — WITHOUT the range
    * condition the join state grows forever, which is why the
    * watermark+range contract is the whole point of this operator class
    * (StreamingSpec pins the eviction with a two-batch MemoryStream).
    *
    * Streams additionally REQUIRE an equality key (Spark refuses a pure
    * range predicate — the state store is keyed), and q82's batch trick
    * IS that key: quantize time into window-sized bins, explode the
    * error side to its 3 covering bins, join on bin equality + the
    * exact |Δt| ≤ W residual. The same shape that kept the batch join
    * off a nested loop makes the streaming join expressible at all —
    * and keys the state store by bin, so a probe touches one bucket.
    *
    * Inner join: matched pairs emit in append mode as they are found;
    * the zero-match purchases of the batch q82 report are an OUTER-join
    * concern, and outer emission on a finite file source would hang on
    * a watermark that never advances past the last batch — the inner
    * pair set is the graded, deterministic core. */
  def startRangeJoinToMemory(spark: SparkSession, dir: String,
                             queryName: String): StreamingQuery = {
    val rangeUs = graft.operators.EventOps.RangeUs
    val p = source(spark, dir).where(col("event_type") === "purchase")
      .select(col("event_id"), col("ts").as("p_ts"),
        (unix_micros(col("ts")) / rangeUs).cast("long").as("bin"))
      .withWatermark("p_ts", "1 hour")
    val e = source(spark, dir).where(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("ts").as("e_ts"))
      .withColumn("bin", explode(array(
        (unix_micros(col("e_ts")) / rangeUs).cast("long") - 1,
        (unix_micros(col("e_ts")) / rangeUs).cast("long"),
        (unix_micros(col("e_ts")) / rangeUs).cast("long") + 1)))
      .withWatermark("e_ts", "1 hour")
    p.join(e,
        // µs-exact interval: a whole-seconds window would silently
        // truncate any sub-second component of RangeUs and diverge from
        // the µs-exact batch oracle
        p("bin") === e("bin") &&
          col("e_ts") >= col("p_ts") - expr(s"INTERVAL $rangeUs MICROSECOND") &&
          col("e_ts") <= col("p_ts") + expr(s"INTERVAL $rangeUs MICROSECOND"))
      .select(col("event_id"), unix_micros(col("p_ts")).as("p_us"),
        col("err_id"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .start()
  }

  /** q88: drain the stream-stream range join and reduce the pair sink to
    * per-purchase nearby-error counts — the batch q82 report restricted
    * to its inner rows (n_nearby ≥ 1), which the oracle replays
    * relationally. The count over the drained sink is batch
    * post-processing of the streamed pair set, the q47/q67 reduction
    * pattern.
    *
    * Shuffle partitions are pinned LOW for the drain: a stream-stream
    * join keeps FOUR state stores per shuffle partition, and every
    * micro-batch pays a per-store commit — at the session's 32
    * partitions that is 128 store commits per batch for join state that
    * fits in a handful (measured 6.5 s → ~2 s at 4). Since r20 the pin
    * lives in [[drainToTable]] ([[DrainShufflePartitionsConf]]) and
    * covers every graded drain — see its scaladoc for the sizing
    * contract. */
  def q88(spark: SparkSession, dir: String): DataFrame = {
    // the 4-store pin this query measured and documented now lives in
    // drainToTable itself ([[DrainShufflePartitionsConf]], r20) — every
    // graded drain gets the same state-volume sizing
    val sunk = drainToTable(spark, "graft_q88_sink",
      startRangeJoinToMemory(spark, dir, "graft_q88_sink"))
    sunk
      .groupBy(col("event_id"), col("p_us"))
      .agg(count(col("err_id")).as("n_nearby"))
      .orderBy(col("event_id"))
  }

  /** The inner form of EventOps.q82Sql — same window constant, purchases
    * with at least one nearby error. */
  val q88Sql: String =
    s"""SELECT p.event_id, epoch_us(p.ts) AS p_us, count(e.event_id) AS n_nearby
       |FROM events p
       |JOIN events e
       |  ON e.event_type = 'error'
       | AND abs(epoch_us(e.ts) - epoch_us(p.ts)) <= ${graft.operators.EventOps.RangeUs}
       |WHERE p.event_type = 'purchase'
       |GROUP BY 1, 2 ORDER BY p.event_id""".stripMargin

  // ---- q91: hopping-window streaming aggregation -----------------------

  /** The OVERLAPPING-window variant q46's tumbling job can't express:
    * 1-hour windows hopping every 30 minutes, so each event contributes
    * to exactly TWO windows (the smoothing shape dashboards actually
    * plot). State honesty (r9 advice): this graded drain runs in
    * COMPLETE output mode — the memory sink must hold every window
    * because the finite corpus's LAST hour of windows never crosses the
    * watermark, and append mode would silently drop them from the graded
    * result — and in complete mode Spark does NOT apply the watermark to
    * evict aggregation state, so state grows with the number of windows
    * for as long as the query runs. That is fine for a drain over a
    * finite corpus (this contract) but NOT the production shape: a
    * long-running deployment of this aggregation must use append/update
    * mode, where the watermark bounds live state to horizon/slide
    * windows per key (× 2 window rows per event, a constant). The
    * oracle replays the window membership relationally: an event at
    * `ts` belongs to the epoch-aligned starts `g` and `g − slide` where
    * `g = ts − (ts mod slide)` (both satisfy s ≤ ts < s + 1h), which is
    * exactly Spark's epoch-aligned hopping assignment. */
  def startHoppingToMemory(spark: SparkSession, dir: String,
                           queryName: String): StreamingQuery =
    source(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), r4(sum(col("value"))).as("sum_value"))
      .select(unix_micros(col("window.start")).as("bucket_us"),
        col("event_type"), col("n"), col("sum_value"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()

  def q91(spark: SparkSession, dir: String): DataFrame =
    drainToTable(spark, "graft_q91_sink",
      startHoppingToMemory(spark, dir, "graft_q91_sink"))
      .orderBy(col("bucket_us"), col("event_type"))

  val q91Sql: String =
    s"""SELECT s AS bucket_us, event_type, count(*) AS n,
       |       ${graft.functions.Det.r4Sql("sum(value)")} AS sum_value
       |FROM (
       |  SELECT event_type, value, unnest([g, g - 1800000000]) AS s
       |  FROM (SELECT event_type, value,
       |               epoch_us(ts) - (epoch_us(ts) % 1800000000) AS g
       |        FROM events))
       |GROUP BY 1, 2 ORDER BY bucket_us, event_type""".stripMargin

  // ---- q96: native session-window streaming aggregation ----------------

  /** Spark's BUILT-IN session window operator — a distinct streaming
    * operator class from q47's hand-rolled `flatMapGroupsWithState`
    * sessionizer: `session_window(ts, gap)` plans a dedicated
    * merging-state physical operator (UpdatingSessionsExec +
    * session-window state store) that merges windows whose event times
    * fall within `gap` of each other, per key, ACROSS micro-batches.
    * The two sessionizers carry different boundary contracts (the
    * custom one breaks on `diff > gap`, the native one merges only
    * while `ts < prevEnd = prevTs + gap`, i.e. breaks on
    * `diff >= gap`), so this query's oracle replays the NATIVE rule —
    * the q47/q28 pair stays the oracle of the custom rule.
    *
    * State honesty (the q91 contract): the graded drain runs COMPLETE
    * mode — the finite corpus's final sessions never cross the
    * watermark, and append mode would drop them from the graded result
    * — so the watermark does not evict; a production deployment uses
    * append mode where state is bounded to the open sessions inside
    * the watermark horizon per key. */
  def startSessionWindowToMemory(spark: SparkSession, dir: String,
                                 queryName: String): StreamingQuery =
    source(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), r4(sum(col("value"))).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n"), col("sum_value"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()

  def q96(spark: SparkSession, dir: String): DataFrame =
    drainToTable(spark, "graft_q96_sink",
      startSessionWindowToMemory(spark, dir, "graft_q96_sink"))
      .orderBy(col("user_id"), col("session_start_us"))

  /** Gap-and-islands replay of the native merge rule: a session breaks
    * where the in-key gap is ≥ 30 min (ties at identical timestamps
    * cannot flip the break — the diff is 0 either way). */
  val q96Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(ts) AS tus, value FROM events),
       |m AS (
       |  SELECT user_id, tus, value,
       |         CASE WHEN lag(tus) OVER w IS NULL
       |              OR tus - lag(tus) OVER w >= 1800000000
       |              THEN 1 ELSE 0 END AS brk
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
       |s AS (
       |  SELECT user_id, tus, value,
       |         sum(brk) OVER (PARTITION BY user_id ORDER BY tus
       |                        ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM m)
       |SELECT user_id, min(tus) AS session_start_us,
       |       count(*) AS n,
       |       ${graft.functions.Det.r4Sql("sum(value)")} AS sum_value
       |FROM s GROUP BY user_id, sid
       |ORDER BY user_id, session_start_us""".stripMargin

  // ---- q132: streaming text-embed ingest ------------------------------

  /** Documents parquet schema (the streaming file source needs it
    * declared up front; column types per TESTDATA/FIXTURES). */
  private def docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source STREAM over the dir's documents table (schema declared
    * up front per the streaming-source contract) — shared by q132/q146
    * here and QualityClassifier.q160. */
  private[graft] def docStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)

  /** q132: the embedding stage of a streaming INGEST pipeline — documents
    * arrive as files, their feature-hash vectors materialize
    * incrementally. Stateless narrow per-batch work (no watermark, no
    * state store): each micro-batch runs the same fused codegen
    * expression the batch op uses, so the drained sink must hash-match
    * the batch q129 oracle — batch/stream parity THROUGH a custom
    * expression, pinning that `FeatureHashVec` is safe under streaming
    * re-planning. At 100 TB this is the continuous writer that keeps the
    * vector side of the corpus current as crawl shards land. */
  def q132(spark: SparkSession, dir: String): DataFrame =
    drainToTable(spark, "graft_q132_sink", {
      spark.readStream.schema(docSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .select(col("doc_id"),
          posexplode(graft.functions.FeatureHashVec(col("text"))))
        .where(col("col") =!= 0)
        .select(col("doc_id"), col("pos").cast("int").as("dim"),
          col("col").as("val"))
        .writeStream.outputMode("append").format("memory")
        .queryName("graft_q132_sink").start()
    }).orderBy(col("doc_id"), col("dim"))

  // ---- q146: streaming PII redaction (r13) ----------------------------
  //
  // q141's scrubbing audit as an INGEST stage: the identical
  // piiAuditCols transform (stateless per-row maps — inject, redact,
  // count, digest) runs under readStream in append mode, so a document
  // is scrubbed before anything downstream ever sees it, and the result
  // hash-matches the batch q141 oracle — parity is structural, not
  // re-implemented (the q132 relationship).
  def q146(spark: SparkSession, dir: String): DataFrame =
    drainToTable(spark, "graft_q146_sink", {
      graft.operators.TextAnalysis.piiAuditCols(
        spark.readStream.schema(docSchema)
          .option("pathGlobFilter", "documents.parquet").parquet(dir))
        .writeStream.outputMode("append").format("memory")
        .queryName("graft_q146_sink").start()
    }).orderBy(col("doc_id"))

  // ---- q176: streaming ANN retrieval (r16) ----------------------------
  //
  // Retrieval AS A SERVICE — the matrix cell the streaming surface still
  // lacked: queries arrive as a stream and probe a STANDING index. The
  // shape is q157's (stream-static probe of a standing pin) applied to
  // search: each arriving query pays one stateless fused LshSignature
  // pass (the SAME kernel that banded the corpus — one definition, no
  // drift), a stream-static equi-join on (band, bucket) against the
  // standing corpus signature table, a stream-static record join for the
  // bucket-mates, and a stateless exact cosine; only the drained sink
  // pays dedup + the per-query top-k cut (a mate reached through
  // multiple bands streams once per band — dedup on a stream would be
  // needless state). At 100 TB: the signature table and records are the
  // static sides of broadcast-able equi-joins, per-query work is
  // bucket-occupancy-sized, and NO state store exists — the service
  // scales with query arrival rate, not corpus size.

  private val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private val SearchCorpusN = 200L
  private val SearchQLo = 200L
  private val SearchQHi = 204L
  private val SearchK = 10

  def q176(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Ann, StandingCache}
    val corpus = StandingCache.frame(dir, "q176_corpus") {
      Tables.table(spark, dir, "embeddings")
        .where(col("vec_id") < SearchCorpusN)
        .select(col("vec_id"), col("embedding"))
    }
    val corpusSigs = StandingCache.frame(dir, "q176_sigs") {
      Ann.withBandSigs(corpus, col("embedding"))
        .select(col("vec_id"), col("band"), col("bucket"))
    }
    val drained = drainToTable(spark, "graft_q176_sink", {
      Ann.withBandSigs(
        spark.readStream.schema(embSchema)
          .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
          .where(col("vec_id") >= SearchQLo && col("vec_id") < SearchQHi)
          .select(col("vec_id").as("qid"), col("embedding").as("qv")),
        col("qv"))
        .select(col("qid"), col("qv"), col("band"), col("bucket"))
        .join(corpusSigs, Seq("band", "bucket"))
        .join(corpus, Seq("vec_id"))
        .select(col("qid"),
          round(graft.functions.VectorFunctions
            .cosineSim(col("embedding"), col("qv")), 4).as("score"),
          col("vec_id"))
        .writeStream.outputMode("append").format("memory")
        .queryName("graft_q176_sink").start()
    })
    Ann.rankTopK(drained.distinct(), SearchK, descending = true)
  }

  /** Full relational replay of the streaming read — the q32 oracle shape
    * with the corpus/query split at the stream boundary: hyperplanes,
    * corpus signatures and query signatures all recompute from the md5
    * policy; candidates = DISTINCT bucket-mates; rerank = exact cosine
    * rounded to 4, ranked (score DESC, id) per query. */
  val q176Sql: String = {
    import graft.operators.Ann
    val nPlanes = Ann.Bands * Ann.BitsPerBand
    val dot = graft.functions.Det.dotSql("e.embedding", "p.pl")
    val qdot = graft.functions.Det.dotSql("q.qv", "p.pl")
    s"""WITH planes AS (
       |  SELECT f, list(CAST((('0x' || substr(md5('graft_lsh_' || f || '_' || j), 1, 8))::BIGINT
       |                       / 2147483648.0 - 1.0) AS FLOAT) ORDER BY j) AS pl
       |  FROM range($nPlanes) tp(f), range(${Ann.Dim}) td(j)
       |  GROUP BY f),
       |sigs AS (
       |  SELECT e.vec_id, (p.f // ${Ann.BitsPerBand})::INT AS band,
       |         sum(CASE WHEN $dot > 0
       |                  THEN (1::BIGINT << (p.f % ${Ann.BitsPerBand})) ELSE 0 END) AS bucket
       |  FROM embeddings e, planes p WHERE e.vec_id < $SearchCorpusN
       |  GROUP BY e.vec_id, band),
       |q AS (
       |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |  WHERE vec_id >= $SearchQLo AND vec_id < $SearchQHi),
       |qsig AS (
       |  SELECT q.qid, (p.f // ${Ann.BitsPerBand})::INT AS band,
       |         sum(CASE WHEN $qdot > 0
       |                  THEN (1::BIGINT << (p.f % ${Ann.BitsPerBand})) ELSE 0 END) AS bucket
       |  FROM q, planes p GROUP BY q.qid, band),
       |cand AS (
       |  SELECT DISTINCT qs.qid, s.vec_id AS id
       |  FROM sigs s JOIN qsig qs ON s.band = qs.band AND s.bucket = qs.bucket),
       |sc AS (
       |  SELECT c.qid, c.id,
       |         round(${graft.functions.Det.cosSql("e.embedding", "q.qv")}, 4) AS score
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.id
       |  JOIN q ON q.qid = c.qid),
       |r AS (
       |  SELECT qid, id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
       |  FROM sc)
       |SELECT qid, rank::INT AS rank, id, score FROM r WHERE rank <= $SearchK
       |ORDER BY qid, rank""".stripMargin
  }

  // ---- q178: streaming retrieval against the PRUNING mount (r16;
  // re-routed r18 — VERDICT r17 "What's wrong" #1) ----------------------
  //
  // q176 closed the streaming-retrieval cell with the signature mount;
  // this is the transfer to the IVF inverted file (q33's own persisted
  // layout), so per-query candidate volume is the PROBED CELLS'
  // occupancy, not the namespace. Through r17 this cell ran as an inline
  // stream-static join (a fused HOF probe column against the standing
  // layout), but the r17 plan audit (SCALING.md, "Measured limit of the
  // inline stream-static shape") showed Spark injects NO dynamic
  // partition pruning into streaming micro-batch plans — the static-side
  // FileScan carried `PartitionFilters: [isnotnull(cell)]` only, so the
  // cell-partitioned layout was swept IN FULL once per micro-batch,
  // forfeiting the ~nprobe/ncells pruning that is the entire point of
  // the mount at 100 TB. The graded cell is now the plan you'd run at
  // 100×: the foreachBatch batch-kernel route (the q188/q190 shape) —
  // each micro-batch's queries are collected (arrival-rate-sized:
  // queries, never corpus) and run through the BATCH kernel, whose
  // explicit `isin(probedCells)` literal prunes the cell-partitioned
  // scan verbatim; the kernel asserts `PartitionFilters: [cell` on its
  // own micro-batch plan, in the serving path itself. The inline
  // stream-static shape survives on the SIGNATURE mount (q176), where
  // the static side is a broadcastable equi-join table and there is no
  // partition pruning to lose. Candidate policy is unchanged: the
  // kernel's (qid, cell) probe table ([[graft.operators.Ann.rankCells]])
  // persists for the oracle — candidates-are-policy, the q33 contract
  // with a qid key — and stream ≡ batch parity is pinned once per dir by
  // the one-shot twin (micro-batching splits QUERIES, whose probes and
  // cuts are independent, so the drained union must equal the one-shot
  // kernel positionally).

  private val IvfQLo = 5L
  private val IvfQHi = 9L
  private val q178ParityChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Drain the embeddings query stream `[lo, hi)` through `onBatch` —
    * the foreachBatch probe route shared by the pruned-mount retrieval
    * cells (q178/q180/q182/q187; q188–q191 predate the helper with the
    * same inline shape). Each micro-batch's queries are collected
    * (arrival-rate-sized) and handed to a BATCH kernel, whose static
    * scans are ordinary batch plans — so `isin(probedCells)` partition
    * pruning applies verbatim, which an inline stream-static join can
    * never get (no DPP in streaming micro-batch plans). */
  private def drainQueryBatches(spark: SparkSession, dir: String,
                                lo: Long, hi: Long)
                               (onBatch: Seq[(Long, Array[Float])] => Unit): Unit = {
    val q = spark.readStream.schema(embSchema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      .where(col("vec_id") >= lo && col("vec_id") < hi)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val qs = batch.collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        if (qs.nonEmpty) onBatch(qs)
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
  }

  /** The scale pin, in the serving path itself: every micro-batch's
    * static-side scan must carry REAL partition filters — the exact
    * regression (pruning silently lost) that moved these cells off the
    * inline stream-static shape. */
  private def requireCellPruned(df: DataFrame, who: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    require(plan.contains("PartitionFilters: [cell"),
      s"$who: the micro-batch scan lost cell partition pruning\n${plan.take(800)}")
  }

  def q178(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ann = graft.operators.Ann
    val aux = ann.ensureLayout(spark, dir)
    val centers = ann.centersAt(spark, s"$aux/centroids")
    val nProbe = ann.ivfProbeFor(centers.length)
    // the BATCH kernel, applied per micro-batch AND (once per dir) to
    // the full query set as the one-shot parity twin — one definition,
    // no drift. Probe ranking is rankCells itself (no fused-column
    // twin to pin); the isin literal is what prunes the partitioned scan.
    def kernel(qs: Seq[(Long, Array[Float])])
        : (Seq[(Long, Int)], Seq[(Long, Int, Long, Double)]) = {
      val probeRows = qs.flatMap { case (qid, qv) =>
        ann.rankCells(qv, centers, nProbe).map(c => (qid, c)) }
      val probedCells = probeRows.map(_._2).distinct.sorted
      val qFrame = qs.map { case (qid, qv) => (qid, qv.toSeq) }.toDF("qid", "qv")
      val cut = ann.rankTopK(
        spark.read.parquet(s"$aux/index")
          .where(col("cell").isin(probedCells: _*))
          .join(broadcast(probeRows.toDF("qid", "cell")), Seq("cell"))
          .where(col("vec_id") =!= col("qid"))
          .join(broadcast(qFrame), Seq("qid"))
          .select(col("qid"),
            round(graft.functions.VectorFunctions
              .cosineSim(col("embedding"), col("qv")), 4).as("score"),
            col("vec_id")),
        SearchK, descending = true)
      requireCellPruned(cut, "q178")
      // k × Q hit rows only — never corpus-sized
      (probeRows, cut.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq)
    }
    val probeBuf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    val hitBuf =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, Long, Double)]()
    drainQueryBatches(spark, dir, IvfQLo, IvfQHi) { qs =>
      val (probes, hits) = kernel(qs)
      probes.foreach(probeBuf.add)
      hits.foreach(hitBuf.add)
    }
    // explicit element types: Java's toArray would refine to
    // `(…) with Object`, which the encoder reflection rejects
    val probeRows: Seq[(Long, Int)] =
      probeBuf.toArray(Array.empty[(Long, Int)]).toSeq
    val hitRows: Seq[(Long, Int, Long, Double)] =
      hitBuf.toArray(Array.empty[(Long, Int, Long, Double)]).toSeq
        .sortBy(x => (x._1, x._2))
    // stream ≡ batch, once per dir (the q188 convention, so bench
    // repeats measure the stream): micro-batching splits QUERIES, whose
    // probes and cuts are independent, so the drained union must equal
    // the one-shot kernel positionally — score-exact
    graft.ParityGate.once(q178ParityChecked, dir) {
      val all = Tables.table(spark, dir, "embeddings")
        .where(col("vec_id") >= IvfQLo && col("vec_id") < IvfQHi)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val (twinProbes, twinHits) = kernel(all)
      require(probeRows.toSet == twinProbes.toSet,
        "the stream's probe table diverged from the one-shot kernel")
      require(hitRows == twinHits.sortBy(x => (x._1, x._2)),
        "the drained stream's answers diverged from the one-shot batch twin")
    }
    probeRows.toDF("qid", "cell").coalesce(1)
      .write.mode("overwrite").parquet(s"$aux/stream_probes")
    hitRows.toDF("qid", "rank", "id", "score").orderBy("qid", "rank")
  }

  /** The q33 replay with a parameterized probe table and query set:
    * candidates = the persisted (qid, cell) probes' members, rerank =
    * exact cosine rounded to 4, ranked (score DESC, id) per query.
    * Shared by the IVF (q178) and IMI (q187) streaming cells — both
    * persist a q33-shaped layout (`assign/`) and a `stream_probes`
    * table, so one replay text grades either grid. */
  private def streamProbeReplaySql(aux: String, qlo: Long, qhi: Long): String =
    s"""WITH probes AS (SELECT qid, cell FROM read_parquet('$aux/stream_probes/*.parquet')),
       |a AS (SELECT vec_id, cell FROM read_parquet('$aux/assign/*.parquet')),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |      WHERE vec_id >= $qlo AND vec_id < $qhi),
       |cand AS (
       |  SELECT DISTINCT p.qid, a.vec_id AS id
       |  FROM probes p JOIN a ON a.cell = p.cell
       |  WHERE a.vec_id <> p.qid),
       |sc AS (
       |  SELECT c.qid, c.id,
       |         round(${graft.functions.Det.cosSql("e.embedding", "q.qv")}, 4) AS score
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.id
       |  JOIN q ON q.qid = c.qid),
       |r AS (
       |  SELECT qid, id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
       |  FROM sc)
       |SELECT qid, rank::INT AS rank, id, score FROM r WHERE rank <= $SearchK
       |ORDER BY qid, rank""".stripMargin

  def q178Sql(aux: String): String = streamProbeReplaySql(aux, IvfQLo, IvfQHi)

  /** Aux dir of the most recent q178 run — oracle hook (the layout is
    * q33's own cached build; the probe table is q178's). */
  @volatile private var lastStreamIvfAux: Option[String] = None

  // ---- q180: streaming retrieval through the PQ CODES (r17; re-routed
  // r18 — VERDICT r17 "What's wrong" #1) ---------------------------------
  //
  // The CODE mount — the 100 TB sweep geometry SCALING.md recommends (a
  // table-lookup 8-term sum per candidate, no float vectors in the
  // scan). Like q178, this cell ran through r17 as an inline
  // stream-static join whose fused probe/LUT columns were stateless but
  // whose static-side sweep was NEVER cell-pruned (no DPP in streaming
  // micro-batch plans). It now streams through the foreachBatch
  // batch-kernel route: each micro-batch's queries are collected
  // (arrival-rate-sized), their probe cells and ADC LUTs derive
  // driver-side from KB-sized centroids/codebook (the exact
  // [[graft.operators.Ann.rankCells]] / [[graft.operators.Pq.lutFor]]
  // kernels — one definition, no drift), and the batch kernel's
  // `isin(probedCells)` scan prunes the cell-partitioned codes verbatim
  // (asserted on the micro-batch plan itself). Only CandN × Q candidate
  // ids leave each batch; the exact rerank runs post-drain. NO state
  // store anywhere — the service scales with query arrival rate, not
  // corpus size: one PRUNED sweep per micro-batch, amortized over its
  // queries (the q106 one-scan thesis).

  private val PqQLo = 5L
  private val PqQHi = 9L
  private val q180ParityChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def q180(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ann = graft.operators.Ann
    val pqOps = graft.operators.Pq
    val aux = graft.operators.IvfPq.ensureLayout(spark, dir)
    val pqAux = pqOps.ensureLayout(spark, dir)
    val ivfAux = ann.ensureLayout(spark, dir)
    val centers = ann.centersAt(spark, s"$ivfAux/centroids")
    val nProbe = ann.ivfProbeFor(centers.length)
    val codebook = pqOps.readCodebook(spark, pqAux)
    // the BATCH kernel — per micro-batch and (once per dir) the one-shot
    // parity twin: cell ranking on the raw query, ADC LUT in PqEncode's
    // space, CandN cut on ascending (adc, id) via the bounded heap
    def kernel(qs: Seq[(Long, Array[Float])])
        : (Seq[(Long, Int)], Seq[(Long, Seq[Seq[Double]])], Seq[(Long, Long)]) = {
      val probeRows = qs.flatMap { case (qid, qv) =>
        ann.rankCells(qv, centers, nProbe).map(c => (qid, c)) }
      val luts = qs.map { case (qid, qv) => (qid, pqOps.lutFor(qv, codebook)) }
      val probedCells = probeRows.map(_._2).distinct.sorted
      val cand = pqOps.candCut(
        spark.read.parquet(s"$aux/index")
          .where(col("cell").isin(probedCells: _*))
          .join(broadcast(probeRows.toDF("qid", "cell")), Seq("cell"))
          .where(col("vec_id") =!= col("qid"))
          .join(broadcast(pqOps.lutFrame(spark, luts)), Seq("qid"))
          .withColumn("adc", pqOps.adcCol)
          .select(col("qid"), col("adc"), col("vec_id")))
      requireCellPruned(cand, "q180")
      // CandN × Q candidate ids only — never corpus-sized
      (probeRows, luts,
        cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    }
    val probeBuf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    val lutBuf =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Seq[Double]])]()
    val candBuf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    drainQueryBatches(spark, dir, PqQLo, PqQHi) { qs =>
      val (probes, luts, cand) = kernel(qs)
      probes.foreach(probeBuf.add)
      luts.foreach(lutBuf.add)
      cand.foreach(candBuf.add)
    }
    val probeRows: Seq[(Long, Int)] =
      probeBuf.toArray(Array.empty[(Long, Int)]).toSeq
    val luts: Seq[(Long, Seq[Seq[Double]])] =
      lutBuf.toArray(Array.empty[(Long, Seq[Seq[Double]])]).toSeq
    val streamCand: Seq[(Long, Long)] =
      candBuf.toArray(Array.empty[(Long, Long)]).toSeq
    // stream ≡ batch, once per dir: the drained candidate union must
    // equal the one-shot kernel's set exactly (the ADC is rounded to
    // 1e-6 and the cut ties on id, so the per-query cut is deterministic
    // and independent of its batch-mates)
    graft.ParityGate.once(q180ParityChecked, dir) {
      val all = Tables.table(spark, dir, "embeddings")
        .where(col("vec_id") >= PqQLo && col("vec_id") < PqQHi)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val (twinProbes, _, twinCand) = kernel(all)
      require(probeRows.toSet == twinProbes.toSet,
        "the stream's probe table diverged from the one-shot kernel")
      require(streamCand.toSet == twinCand.toSet,
        "the stream's ADC candidate cut diverged from the one-shot batch twin")
    }
    // the oracle's candidate policy: probe table + flat LUTs
    probeRows.toDF("qid", "cell").coalesce(1)
      .write.mode("overwrite").parquet(s"$aux/stream_probes")
    pqOps.writeLuts(spark, luts, s"$aux/stream_lut")
    val emb = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val qFrame = Tables.table(spark, dir, "embeddings")
      .where(col("vec_id") >= PqQLo && col("vec_id") < PqQHi)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    ann.rankTopK(
      streamCand.toDF("qid", "vec_id")
        .join(emb, Seq("vec_id"))
        .join(broadcast(qFrame), Seq("qid"))
        .select(col("qid"),
          round(graft.functions.VectorFunctions
            .cosineSim(col("embedding"), col("qv")), 4).as("score"),
          col("vec_id")),
      SearchK, descending = true)
  }

  /** q60's ADC replay with the stream's probe/LUT tables and query set:
    * candidates = probed cells' codes ranked by the summed LUT (CandN
    * cut on ascending (adc, id)), rerank = exact cosine rounded to 4. */
  def q180Sql(aux: String, pqAux: String): String =
    s"""WITH probes AS (SELECT qid, cell FROM read_parquet('$aux/stream_probes/*.parquet')),
       |a AS (SELECT vec_id, cell FROM read_parquet('$aux/assign/*.parquet')),
       |lut AS (SELECT qid, sub, code, d FROM read_parquet('$aux/stream_lut/*.parquet')),
       |cf AS (SELECT vec_id, sub, code FROM read_parquet('$pqAux/codes_flat/*.parquet')),
       |cells AS (
       |  SELECT p.qid, a.vec_id FROM probes p JOIN a ON a.cell = p.cell
       |  WHERE a.vec_id <> p.qid),
       |adc AS (
       |  SELECT cl.qid, cl.vec_id, round(sum(l.d), 6) AS adc
       |  FROM cells cl
       |  JOIN cf c ON c.vec_id = cl.vec_id
       |  JOIN lut l ON l.qid = cl.qid AND l.sub = c.sub AND l.code = c.code
       |  GROUP BY cl.qid, cl.vec_id),
       |cand AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |           row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS cr
       |    FROM adc) WHERE cr <= ${graft.operators.Pq.CandN}),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |      WHERE vec_id >= $PqQLo AND vec_id < $PqQHi),
       |sc AS (
       |  SELECT c.qid, c.vec_id AS id,
       |         round(${graft.functions.Det.cosSql("e.embedding", "q.qv")}, 4) AS score
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
       |  JOIN q ON q.qid = c.qid),
       |r AS (
       |  SELECT qid, id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
       |  FROM sc)
       |SELECT qid, rank::INT AS rank, id, score FROM r WHERE rank <= $SearchK
       |ORDER BY qid, rank""".stripMargin

  /** (IVFADC aux, PQ aux) of the most recent q180 run — oracle hook. */
  @volatile private var lastStreamPqAux: Option[(String, String)] = None

  // ---- q182: FILTERED streaming retrieval (r17; re-routed r18) ---------
  //
  // q178's route composed with the hybrid-query discipline (VERDICT r16
  // "Next round" #7): the tenant predicate evaluates INSIDE the batch
  // kernel's pruned scan — at candidate time, before scoring or any cut —
  // so the cut ranks matching rows only, never a post-filtered geometry
  // top-k. The predicate is relational (`vec_id % 3 = 1`, the q164
  // oracle discipline) because the offline layout carries no metadata
  // map; the metadata-equality form of the same semantics is graded on
  // the durable mounts (q164/q168–q173). Like q178 (r18), the cell runs
  // through the foreachBatch batch-kernel route, so the micro-batch scan
  // is cell-pruned verbatim (asserted in-kernel).
  //
  // RECALL ENVELOPE (stated, not silent): this cell has NO starved-query
  // rescue — re-scanning the corpus per starved query would couple
  // stream latency to corpus size — so each query receives
  // min(k, matching rows IN ITS PROBED CELLS). The batch hybrid paths'
  // min(k, matching-live-rows) floor does NOT hold here; a consumer
  // needing that floor runs q164/q168's mounts instead. The in-script
  // audit asserts the envelope exactly: per query, the served hit count
  // equals min(k, the kernel's matching candidate count).

  private val StreamTenantMod = 3
  private val q182ParityChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def q182(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ann = graft.operators.Ann
    val aux = ann.ensureLayout(spark, dir)
    val centers = ann.centersAt(spark, s"$aux/centroids")
    val nProbe = ann.ivfProbeFor(centers.length)
    def kernel(qs: Seq[(Long, Array[Float])])
        : (Seq[(Long, Int)], Seq[(Long, Int, Long, Double)]) = {
      val probeRows = qs.flatMap { case (qid, qv) =>
        ann.rankCells(qv, centers, nProbe).map(c => (qid, c)) }
      val probedCells = probeRows.map(_._2).distinct.sorted
      val qFrame = qs.map { case (qid, qv) => (qid, qv.toSeq) }.toDF("qid", "qv")
      val cut = ann.rankTopK(
        spark.read.parquet(s"$aux/index")
          .where(col("cell").isin(probedCells: _*))
          // the hybrid predicate, at candidate time in the pruned scan
          .where(col("vec_id") % StreamTenantMod === 1)
          .join(broadcast(probeRows.toDF("qid", "cell")), Seq("cell"))
          .where(col("vec_id") =!= col("qid"))
          .join(broadcast(qFrame), Seq("qid"))
          .select(col("qid"),
            round(graft.functions.VectorFunctions
              .cosineSim(col("embedding"), col("qv")), 4).as("score"),
            col("vec_id")),
        SearchK, descending = true)
      requireCellPruned(cut, "q182")
      (probeRows, cut.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq)
    }
    val probeBuf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    val hitBuf =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, Long, Double)]()
    drainQueryBatches(spark, dir, IvfQLo, IvfQHi) { qs =>
      val (probes, hits) = kernel(qs)
      probes.foreach(probeBuf.add)
      hits.foreach(hitBuf.add)
    }
    val probeRows: Seq[(Long, Int)] =
      probeBuf.toArray(Array.empty[(Long, Int)]).toSeq
    val hitRows: Seq[(Long, Int, Long, Double)] =
      hitBuf.toArray(Array.empty[(Long, Int, Long, Double)]).toSeq
        .sortBy(x => (x._1, x._2))
    // stream ≡ batch + the ENVELOPE, asserted once per dir (both are
    // invariants of deterministic plans; bench repeats measure the stream)
    graft.ParityGate.once(q182ParityChecked, dir) {
      val all = Tables.table(spark, dir, "embeddings")
        .where(col("vec_id") >= IvfQLo && col("vec_id") < IvfQHi)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val (twinProbes, twinHits) = kernel(all)
      require(probeRows.toSet == twinProbes.toSet,
        "the stream's probe table diverged from the one-shot kernel")
      require(hitRows == twinHits.sortBy(x => (x._1, x._2)),
        "the drained stream's answers diverged from the one-shot batch twin")
      // per query, served = min(k, matching candidates in probed cells)
      val expected = probeRows.toDF("qid", "cell")
        .join(spark.read.parquet(s"$aux/index"), Seq("cell"))
        .where(col("vec_id") =!= col("qid") &&
          col("vec_id") % StreamTenantMod === 1)
        .select(col("qid"), col("vec_id")).distinct()
        .groupBy(col("qid")).count()
        .as[(Long, Long)].collect().toMap
      val served = hitRows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      all.foreach { case (qid, _) =>
        val want = math.min(SearchK.toLong, expected.getOrElse(qid, 0L))
        require(served.getOrElse(qid, 0L) == want,
          s"query $qid served ${served.getOrElse(qid, 0L)} hits, envelope says $want")
      }
    }
    probeRows.toDF("qid", "cell").coalesce(1)
      .write.mode("overwrite").parquet(s"$aux/stream_probes_f")
    hitRows.toDF("qid", "rank", "id", "score").orderBy("qid", "rank")
  }

  /** q178's replay with the tenant predicate inside the candidate CTE —
    * a post-filtering implementation would rank non-matching rows and
    * break the hash. */
  def q182Sql(aux: String): String =
    s"""WITH probes AS (SELECT qid, cell FROM read_parquet('$aux/stream_probes_f/*.parquet')),
       |a AS (SELECT vec_id, cell FROM read_parquet('$aux/assign/*.parquet')),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |      WHERE vec_id >= $IvfQLo AND vec_id < $IvfQHi),
       |cand AS (
       |  SELECT DISTINCT p.qid, a.vec_id AS id
       |  FROM probes p JOIN a ON a.cell = p.cell
       |  WHERE a.vec_id <> p.qid AND a.vec_id % $StreamTenantMod = 1),
       |sc AS (
       |  SELECT c.qid, c.id,
       |         round(${graft.functions.Det.cosSql("e.embedding", "q.qv")}, 4) AS score
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.id
       |  JOIN q ON q.qid = c.qid),
       |r AS (
       |  SELECT qid, id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
       |  FROM sc)
       |SELECT qid, rank::INT AS rank, id, score FROM r WHERE rank <= $SearchK
       |ORDER BY qid, rank""".stripMargin

  /** Aux dir of the most recent q182 run — oracle hook. */
  @volatile private var lastStreamFilteredAux: Option[String] = None

  // ---- q187: streaming retrieval on the GRID mount (r17; re-routed
  // r18 — VERDICT r17 "What's wrong" #1) ---------------------------------
  //
  // The q178 route on the inverted MULTI-index: the two-level grid
  // decomposes d(q, cell(i,j)) = d_lo(q_lo, c_i) + d_hi(q_hi, c_j), so
  // the per-query probe is 2k driver-side sub-distances merged to the
  // top nProbe (distance, cell) product cells —
  // [[graft.operators.Ann.imiProbeCells]], the one kernel every IMI
  // consumer shares. Through r17 the probe ranking ran as fused HOF
  // columns in an inline stream-static join, which the r17 plan audit
  // showed is never cell-pruned (no DPP in streaming micro-batch
  // plans) — at 100 TB that forfeits exactly the k²-cells-probe-a-few
  // economics the grid exists for. The cell now streams through the
  // foreachBatch batch-kernel route: per micro-batch, imiProbeCells
  // runs driver-side (2k sub-distances per query against KB-sized
  // codebooks) and the kernel's `isin(probedCells)` scan prunes the
  // cell-partitioned grid verbatim (asserted in-kernel); stream ≡ batch
  // is pinned once per dir by the one-shot twin.

  private val ImiQLo = 9L
  private val ImiQHi = 13L
  private val q187ParityChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def q187(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ann = graft.operators.Ann
    val aux = ann.ensureImiLayout(spark, dir)
    val cLo = ann.centersAt(spark, s"$aux/centroids_lo")
    val cHi = ann.centersAt(spark, s"$aux/centroids_hi")
    def kernel(qs: Seq[(Long, Array[Float])])
        : (Seq[(Long, Int)], Seq[(Long, Int, Long, Double)]) = {
      val probeRows = qs.flatMap { case (qid, qv) =>
        ann.imiProbeCells(qv, cLo, cHi).map(c => (qid, c)) }
      val probedCells = probeRows.map(_._2).distinct.sorted
      val qFrame = qs.map { case (qid, qv) => (qid, qv.toSeq) }.toDF("qid", "qv")
      val cut = ann.rankTopK(
        spark.read.parquet(s"$aux/index")
          .where(col("cell").isin(probedCells: _*))
          .join(broadcast(probeRows.toDF("qid", "cell")), Seq("cell"))
          .where(col("vec_id") =!= col("qid"))
          .join(broadcast(qFrame), Seq("qid"))
          .select(col("qid"),
            round(graft.functions.VectorFunctions
              .cosineSim(col("embedding"), col("qv")), 4).as("score"),
            col("vec_id")),
        SearchK, descending = true)
      requireCellPruned(cut, "q187")
      (probeRows, cut.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq)
    }
    val probeBuf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    val hitBuf =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, Long, Double)]()
    drainQueryBatches(spark, dir, ImiQLo, ImiQHi) { qs =>
      val (probes, hits) = kernel(qs)
      probes.foreach(probeBuf.add)
      hits.foreach(hitBuf.add)
    }
    val probeRows: Seq[(Long, Int)] =
      probeBuf.toArray(Array.empty[(Long, Int)]).toSeq
    val hitRows: Seq[(Long, Int, Long, Double)] =
      hitBuf.toArray(Array.empty[(Long, Int, Long, Double)]).toSeq
        .sortBy(x => (x._1, x._2))
    graft.ParityGate.once(q187ParityChecked, dir) {
      val all = Tables.table(spark, dir, "embeddings")
        .where(col("vec_id") >= ImiQLo && col("vec_id") < ImiQHi)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val (twinProbes, twinHits) = kernel(all)
      require(probeRows.toSet == twinProbes.toSet,
        "the stream's grid-probe table diverged from the one-shot kernel")
      require(hitRows == twinHits.sortBy(x => (x._1, x._2)),
        "the drained stream's answers diverged from the one-shot batch twin")
    }
    probeRows.toDF("qid", "cell").coalesce(1)
      .write.mode("overwrite").parquet(s"$aux/stream_probes")
    hitRows.toDF("qid", "rank", "id", "score").orderBy("qid", "rank")
  }

  def q187Sql(aux: String): String = streamProbeReplaySql(aux, ImiQLo, ImiQHi)

  /** IMI aux dir of the most recent q187 run — oracle hook. */
  @volatile private var lastStreamImiAux: Option[String] = None

  // ---- q188: streaming retrieval on the SIGN-BIT mount (part 2) -------
  //
  // BQ is the one geometry with NO pruning key: the hamming kernel ranks
  // EVERY 8-byte code against the query, and its CandN cut must
  // therefore run INSIDE the micro-batch — an append-mode streaming
  // aggregation would demand a watermark the query stream doesn't have,
  // and draining pre-cut rows to the sink would ship corpus-sized
  // hamming rows per query. So this cell streams through Spark's
  // foreachBatch route — the standard pattern for kernels a stream-
  // static join can't express: each micro-batch runs the BATCH kernel
  // (one standing-codes sweep amortized over the batch's queries, the
  // q106 one-scan thesis; TopKAgg's map-side bounded heap keeps the
  // exchange at partitions × Q × CandN rows) and emits only the
  // CandN-sized candidate cut; the exact rerank runs post-drain like
  // q180's. NO state store; per-batch cost = the batch kernel's, which
  // IS the 100 TB sweep economics (8 bytes/vector, popcount per
  // candidate). The driver-side buffer holds candidate ids only —
  // CandN × Q rows per batch, never corpus-sized.

  private val BqQLo = 13L
  private val BqQHi = 17L
  private val q188ParityChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val q188MidsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()

  def q188(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.{Bq, StandingCache}
    val e = Tables.table(spark, dir, "embeddings")
    // the per-dim midpoint grid (q95's threshold policy — Bq's shared
    // kernel): standing per dir
    val mids = q188MidsCache.computeIfAbsent(dir, _ => Bq.midpointGrid(e))
    // the standing 8-byte code table — what the per-batch sweep reads;
    // pack/cut are Bq's own kernels, so engine and oracle share one
    // definition of the threshold and sign-bit arithmetic
    val codes = StandingCache.frame(dir, "q188_codes") {
      e.withColumn("__mids", typedLit(mids.toSeq))
        .withColumn("code", expr(Bq.packExpr64("embedding", "__mids")))
        .select(col("vec_id"), col("code"))
    }
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = spark.readStream.schema(embSchema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      .where(col("vec_id") >= BqQLo && col("vec_id") < BqQHi)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .withColumn("__mids", typedLit(mids.toSeq))
      .withColumn("qcode", expr(Bq.packExpr64("qv", "__mids")))
      .select(col("qid"), col("qcode"))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // CandN × Q candidate ids only — never corpus-sized
        Bq.hammingCut(codes, batch).collect()
          .foreach(r => buf.add((r.getLong(0), r.getLong(1))))
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    // explicit element type: Java's toArray would refine it to
    // `(Long, Long) with Object`, which the encoder reflection rejects
    val streamCand: Seq[(Long, Long)] =
      buf.toArray(Array.empty[(Long, Long)]).toSeq
    // stream ≡ batch: micro-batching splits QUERIES, whose cuts are
    // independent, so the union must equal the one-shot batch kernel's
    // candidate set exactly (integer hamming — no float tie boundary);
    // once per dir, so bench repeats measure the stream
    graft.ParityGate.once(q188ParityChecked, dir) {
      val allQ = e.where(col("vec_id") >= BqQLo && col("vec_id") < BqQHi)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .withColumn("__mids", typedLit(mids.toSeq))
        .withColumn("qcode", expr(Bq.packExpr64("qv", "__mids")))
        .select(col("qid"), col("qcode"))
      val batchCand = Bq.hammingCut(codes, allQ).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      require(streamCand.toSet == batchCand,
        "the stream's hamming cut diverged from the batch kernel")
    }
    val qFrame = e.where(col("vec_id") >= BqQLo && col("vec_id") < BqQHi)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    graft.operators.Ann.rankTopK(
      streamCand.toDF("qid", "vec_id")
        .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .join(broadcast(qFrame), Seq("qid"))
        .select(col("qid"),
          round(graft.functions.VectorFunctions
            .cosineSim(col("embedding"), col("qv")), 4).as("score"),
          col("vec_id")),
      SearchK, descending = true)
  }

  /** q95's replay at the streaming query range and k — Bq's shared
    * parameterized text, so the two graded BQ cells cannot drift. */
  val q188Sql: String = graft.operators.Bq.bqReplaySql(
    s"c.vec_id >= $BqQLo AND c.vec_id < $BqQHi", SearchK)

  // ---- q189: streaming retrieval on the GRAPH mount (part 3 — the
  // streaming × mount matrix is CLOSED) ----------------------------------
  //
  // The HNSW beam is ITERATIVE — each hop's frontier depends on the
  // last — so no stream-static join can express it (q178/q180/q187's
  // stateless probe columns derive from broadcast literals in one pass;
  // a beam needs the graph). It streams through the same foreachBatch
  // route as q188: each micro-batch's queries (a Q-sized collect —
  // queries, never corpus) beam-search the STANDING shard graphs via
  // the batch kernel itself ([[graft.operators.Hnsw.shardCandidates]]:
  // per-shard coalesced scans, resident-graph cache, no corpus
  // shuffle), and only the ≤ shards × ef candidate ids per query reach
  // the buffer. micro-batch = the batch kernel, so stream ≡ batch
  // parity is structural; the candidate set persists as the oracle's
  // policy (the q118 contract — traversal is policy, exact rerank is
  // contract).

  private val HnswQLo = 17L
  private val HnswQHi = 21L
  private val q189ParityChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def q189(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hnsw = graft.operators.Hnsw
    val aux = hnsw.ensureLayout(spark, dir)
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = spark.readStream.schema(embSchema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      .where(col("vec_id") >= HnswQLo && col("vec_id") < HnswQHi)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val qs = batch.collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        if (qs.nonEmpty)
          hnsw.shardCandidates(spark, aux, qs).collect()
            .foreach(r => buf.add((r.getLong(0), r.getLong(1))))
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    val streamCand: Seq[(Long, Long)] =
      buf.toArray(Array.empty[(Long, Long)]).toSeq.distinct
    graft.ParityGate.once(q189ParityChecked, dir) {
      // beam determinism makes this structural: the union of per-batch
      // kernel calls must equal the one-shot kernel over all queries;
      // once per dir, so bench repeats measure the stream
      val qs = Tables.table(spark, dir, "embeddings")
        .where(col("vec_id") >= HnswQLo && col("vec_id") < HnswQHi)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val batchCand = hnsw.shardCandidates(spark, aux, qs.toSeq).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      require(streamCand.toSet == batchCand,
        "the stream's beam candidates diverged from the batch kernel")
      streamCand.toDF("qid", "id").coalesce(1)
        .write.mode("overwrite").parquet(s"$aux/stream_cands")
    }
    val e = Tables.table(spark, dir, "embeddings")
    val qFrame = e.where(col("vec_id") >= HnswQLo && col("vec_id") < HnswQHi)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    graft.operators.Ann.rankTopK(
      e.select(col("vec_id"), col("embedding"))
        .join(broadcast(streamCand.toDF("qid", "id")),
          col("vec_id") === col("id"))
        .where(col("vec_id") =!= col("qid"))
        .join(broadcast(qFrame), Seq("qid"))
        .select(col("qid"),
          round(graft.functions.VectorFunctions
            .cosineSim(col("embedding"), col("qv")), 4).as("score"),
          col("vec_id")),
      SearchK, descending = true)
  }

  /** The q118 contract with the stream's persisted candidates and query
    * range: traversal is the candidate POLICY, the exact cosine rerank
    * with the id tie-break is the replayed contract. */
  def q189Sql(aux: String): String =
    s"""WITH cand AS (
       |  SELECT qid, id FROM read_parquet('$aux/stream_cands/*.parquet')
       |  WHERE id <> qid),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |      WHERE vec_id >= $HnswQLo AND vec_id < $HnswQHi),
       |sc AS (
       |  SELECT c.qid, c.id,
       |         round(${graft.functions.Det.cosSql("e.embedding", "q.qv")}, 4) AS score
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.id
       |  JOIN q ON q.qid = c.qid),
       |r AS (
       |  SELECT qid, id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
       |  FROM sc)
       |SELECT qid, rank::INT AS rank, id, score FROM r WHERE rank <= $SearchK
       |ORDER BY qid, rank""".stripMargin

  /** HNSW aux dir of the most recent q189 run — oracle hook. */
  @volatile private var lastStreamHnswAux: Option[String] = None

  // ---- q191: streaming retrieval on the ROTATED code mount (OPQ) ------
  //
  // The seventh and last ANN family gets its streaming cell: OPQ is
  // flat PQ behind a learned rotation, and its codes table — like
  // BQ's — has NO pruning key, so the CandN ADC cut must run inside
  // the micro-batch (the q188 rationale). foreachBatch route: per
  // micro-batch, rotate each query (the RotateVec arithmetic,
  // driver-side — queries are arrival-rate-sized), derive its ADC LUT
  // against the rotated-space codebook, run the batch kernel's one
  // codes sweep + bounded-heap cut, and emit only CandN × Q candidate
  // ids; exact rerank in the ORIGINAL space post-drain (rotation
  // preserves cosine — the q138 contract). Every ANN family in the
  // repo now serves queries as a stream.

  private val OpqQLo = 21L
  private val OpqQHi = 25L
  private val q191ParityChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def q191(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pqOps = graft.operators.Pq
    val opq = graft.operators.Opq
    val aux = opq.ensureLayout(spark, dir)
    val codebook = pqOps.readCodebook(spark, aux)
    val rot = opq.readRotation(spark, aux)
    val codes = spark.read.parquet(s"$aux/codes")
    def lutsFor(rows: Seq[(Long, Array[Float])]) =
      rows.map { case (qid, qv) =>
        (qid, pqOps.lutFor(opq.rotateQuery(rot, qv), codebook))
      }
    def cutFor(luts: Seq[(Long, Seq[Seq[Double]])]): DataFrame =
      pqOps.candCut(codes
        .crossJoin(broadcast(pqOps.lutFrame(spark, luts)))
        .where(col("vec_id") =!= col("qid"))
        .withColumn("adc", pqOps.adcCol)
        .select(col("qid"), col("adc"), col("vec_id")))
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = spark.readStream.schema(embSchema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      .where(col("vec_id") >= OpqQLo && col("vec_id") < OpqQHi)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        if (rows.nonEmpty)
          cutFor(lutsFor(rows)).collect()
            .foreach(r => buf.add((r.getLong(0), r.getLong(1))))
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    val streamCand: Seq[(Long, Long)] =
      buf.toArray(Array.empty[(Long, Long)]).toSeq
    val e = Tables.table(spark, dir, "embeddings")
    graft.ParityGate.once(q191ParityChecked, dir) {
      // stream ≡ batch: per-query cuts are independent, so the union
      // must equal the one-shot kernel's candidate set (round-6 ADC —
      // the same persisted-LUT doubles both engines replay); once per
      // dir, so bench repeats measure the stream
      val allQs = e.where(col("vec_id") >= OpqQLo && col("vec_id") < OpqQHi)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val allLuts = lutsFor(allQs)
      val batchCand = cutFor(allLuts).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      require(streamCand.toSet == batchCand,
        "the stream's ADC cut diverged from the batch OPQ kernel")
      pqOps.writeLuts(spark, allLuts, s"$aux/stream_lut")
    }
    val qFrame = e.where(col("vec_id") >= OpqQLo && col("vec_id") < OpqQHi)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    graft.operators.Ann.rankTopK(
      streamCand.toDF("qid", "vec_id")
        .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .join(broadcast(qFrame), Seq("qid"))
        .select(col("qid"),
          round(graft.functions.VectorFunctions
            .cosineSim(col("embedding"), col("qv")), 4).as("score"),
          col("vec_id")),
      SearchK, descending = true)
  }

  /** The q58/q138 ADC contract with the stream's persisted LUTs and
    * query range: the rotation lives entirely inside the `codes_flat/`
    * + `stream_lut/` policy artifacts, so the replay is rotation-free. */
  def q191Sql(aux: String): String =
    s"""WITH lut AS (SELECT qid, sub, code, d FROM read_parquet('$aux/stream_lut/*.parquet')),
       |cf AS (SELECT vec_id, sub, code FROM read_parquet('$aux/codes_flat/*.parquet')),
       |adc AS (
       |  SELECT l.qid, c.vec_id, round(sum(l.d), 6) AS adc
       |  FROM cf c JOIN lut l ON l.sub = c.sub AND l.code = c.code
       |  GROUP BY l.qid, c.vec_id),
       |cand AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |           row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS cr
       |    FROM adc WHERE vec_id <> qid) WHERE cr <= ${graft.operators.Pq.CandN}),
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
       |      WHERE vec_id >= $OpqQLo AND vec_id < $OpqQHi),
       |sc AS (
       |  SELECT c.qid, c.vec_id AS id,
       |         round(${graft.functions.Det.cosSql("e.embedding", "q.qv")}, 4) AS score
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
       |  JOIN q ON q.qid = c.qid),
       |r AS (
       |  SELECT qid, id, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
       |  FROM sc)
       |SELECT qid, rank::INT AS rank, id, score FROM r WHERE rank <= $SearchK
       |ORDER BY qid, rank""".stripMargin

  /** OPQ aux dir of the most recent q191 run — oracle hook. */
  @volatile private var lastStreamOpqAux: Option[String] = None

  // ---- q190: snapshot-pinned streaming retrieval over the DURABLE
  // store — the FULL composition (r17 capstone) --------------------------
  //
  // Every serving dimension this engine grades, in ONE cell: a query
  // STREAM (arrival-batched, any split) served by the DURABLE LSM
  // store's indexed read at a RECORDED horizon with a tenant FILTER —
  // the q179 nightly-eval composition as a service instead of a job.
  // The store keeps mutating AFTER the horizon (q179's wave-2 deletes +
  // appends land before any micro-batch arrives), and the graded claim
  // is REPRODUCIBILITY: because each micro-batch replays the same
  // snapshot (kills and delta both bounded at asOf), the drained
  // stream's answers are positionally identical to the one-shot batch
  // twin — arrival batching cannot change a snapshot read. It streams
  // via the foreachBatch route (the q188/q189 rationale: the durable
  // probe is a multi-stage kernel — layout sweep, kill anti-join,
  // delta union, per-query rescue — not a stateless column), each
  // micro-batch paying ONE one-scan batch probe for its queries; only
  // k × Q hit rows leave the batch. At 100 TB this is the serving
  // deployment: ingestion appends continuously, evaluation streams
  // reproducibly against the stamp it recorded at job start.

  private val q190ParityChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** (layout dir, batch-probe dir) of the most recent q190 run. */
  @volatile private var lastStreamDurAsOfAux: Option[(String, String)] = None

  def q190(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // q179's store, streamed
    val fx = StoreOps.durableFixture(spark, dir, StoreOps.scripts("q179"))
    val (store, asOf, qs, tenant, ns, k) =
      (fx.store, fx.horizon, fx.queries, fx.filter, fx.ns, fx.k)
    val buf =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, String, Double)]()
    val q = spark.readStream.schema(embSchema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      .where(col("vec_id") < qs.length)
      .select(col("vec_id"), col("embedding"))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // qid = vec_id = position in the fixture's vec_id-ordered query
        // set (contiguous from 0); k × Q hit rows only
        val rows = batch.collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1)))
        if (rows.nonEmpty) {
          val res = store.findSimilarBatchAsOf(rows.map(_._2).toSeq, asOf,
            k = k, namespace = ns, approx = true, filter = tenant)
          rows.map(_._1).zip(res).foreach { case (qid, hits) =>
            hits.zipWithIndex.foreach { case (h, r) =>
              buf.add((qid, r + 1, h.id, h.score))
            }
          }
        }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    val streamRows: Seq[(Int, Int, String, Double)] =
      buf.toArray(Array.empty[(Int, Int, String, Double)]).toSeq
        .sortBy(x => (x._1, x._2))
    // the reproducibility pin AND the oracle anchor: the one-shot batch
    // twin at the same horizon (persisting its probes for the replay)
    // must equal the drained stream positionally — score-exact, since
    // the per-query probe is independent of its batch-mates (the q179
    // single ≡ batch parity, transitively). Once per dir (the q180
    // convention), so bench repeats measure the serving stream; the
    // probes it persists are idempotent (same store, horizon, queries).
    graft.ParityGate.once(q190ParityChecked, dir) {
      val oneShot = store.findSimilarBatchAsOf(qs, asOf, k = k,
        namespace = ns, approx = true, filter = tenant, persistProbes = true)
      val oneRows = oneShot.zipWithIndex.flatMap { case (hits, qi) =>
        hits.zipWithIndex.map { case (h, r) => (qi, r + 1, h.id, h.score) }
      }.sortBy(x => (x._1, x._2))
      require(streamRows == oneRows,
        "the drained stream's snapshot answers diverged from the one-shot " +
          "batch as-of twin — arrival batching changed a snapshot read")
    }
    lastStreamDurAsOfAux = store.annLayoutDir(ns, qs.head.length)
      .map { case (a, _) => (a, store.annProbesDir(a, "batch_probes")) }
    streamRows.toDF("qid", "rank", "id", "score")
      .withColumn("score", graft.functions.Det.r4(col("score")))
      .orderBy("qid", "rank")
  }

  /** q179's replay verbatim — the stream is pinned positionally equal
    * to the batch twin in-script, so one replay text grades both. */
  def q190Sql(aux: String, probesDir: String): String =
    graft.operators.StoreOps.q179Sql(aux, probesDir)

  // ---- q192: streaming as-of on the COMPRESSED durable mount (r18) ----
  //
  // VERDICT r17 "What's missing" #3 / "Next round" #3: q190 composed
  // stream × durable store × as-of (× filter) through the IVF route
  // only; this carries the streaming snapshot read onto a DERIVED mount
  // — the PQ code table — through the same foreachBatch route. Each
  // micro-batch's queries (arrival-rate-sized) run the BATCH as-of
  // kernel (`findSimilarBatchAsOf(index = "pq")`, the q134 one-sweep
  // batch probe with both horizons bounded at the stamp: kills in
  // (builtSeq, asOf], delta in (builtSeq, asOf], wave-2 mutations
  // invisible). The code table itself is snapshot-safe AS BUILT (every
  // code row stamped ≤ builtSeq ≤ asOf — the q181 structural fact), so
  // arrival batching cannot change a snapshot answer: the drained
  // stream is pinned positionally equal to the one-shot batch twin,
  // whose persisted qid-keyed probes/LUTs are the oracle's candidate
  // policy (q134's replay at the wave-1 horizon — one replay text
  // grades the live and snapshot batched PQ reads).

  /** PQ codes dir of the most recent q192 run — oracle hook. */
  @volatile private var lastStreamDurPqAsOfAux: Option[String] = None

  def q192(spark: SparkSession, dir: String): DataFrame = {
    val fx = StoreOps.durableFixture(spark, dir, StoreOps.scripts("q192"))
    val out = streamDurAsOf(spark, dir, fx)
    lastStreamDurPqAsOfAux = fx.store.layoutDir("pq", fx.ns, fx.qv.length)
    out
  }

  // ---- q194: streaming as-of on the SIGN-BIT durable mount (r18) ------
  //
  // q192's composition on the BQ mount — the same foreachBatch route,
  // the same batched as-of kernel (`findSimilarBatchAsOf(index = "bq")`:
  // all Q query codes pack against the STANDING midpoint grid, one
  // pruned sweep of the stamped code words, integer hamming CandN cut,
  // kills and delta bounded at the stamp). The grid and codes derive
  // from the pre-horizon layout (builtSeq ≤ h by construction), so the
  // candidate policy is snapshot-safe as built; the oracle is q135's
  // replay at the wave-1 delete modulus.

  /** (ann dir, bq dir) of the most recent q194 run — oracle hook. */
  @volatile private var lastStreamDurBqAsOfAux: Option[(String, String)] = None

  def q194(spark: SparkSession, dir: String): DataFrame = {
    val fx = StoreOps.durableFixture(spark, dir, StoreOps.scripts("q194"))
    val out = streamDurAsOf(spark, dir, fx)
    lastStreamDurBqAsOfAux = for {
      a <- fx.store.annLayoutDir(fx.ns, fx.qv.length).map(_._1)
      b <- fx.store.layoutDir("bq", fx.ns, fx.qv.length)
    } yield (a, b)
    out
  }

  // ---- q195: streaming as-of on the PRODUCT-GRID durable mount (r18) --
  //
  // The q192/q194 composition on IMI: per micro-batch the batched as-of
  // kernel merges each query's 2k sub-distances to its top grid cells,
  // unions them into ONE pruned sweep of the stamped grid layout with
  // both horizons bounded at the stamp. Oracle = q136's replay (q107's
  // candidate contract over the grid's assign/) at the wave-1 modulus.
  // With pq (q192) and bq (q194) this leaves only hnsw/lsh of the
  // derived mounts without a graded streaming-as-of cell — each the
  // same fixture + oracle-modulus parameterization.

  /** IMI grid dir of the most recent q195 run — oracle hook. */
  @volatile private var lastStreamDurImiAsOfAux: Option[String] = None

  def q195(spark: SparkSession, dir: String): DataFrame = {
    val fx = StoreOps.durableFixture(spark, dir, StoreOps.scripts("q195"))
    val out = streamDurAsOf(spark, dir, fx)
    lastStreamDurImiAsOfAux = fx.store.layoutDir("imi", fx.ns, fx.qv.length)
    out
  }

  // ---- q196: streaming as-of on the GRAPH durable mount (r18) ---------
  //
  // The composition on HNSW closes the derived-mount streaming-as-of
  // sweep to all but lsh: per micro-batch the batched as-of kernel
  // beam-searches the STANDING pre-horizon shard graphs (snapshot-safe
  // as built — the q185 structural fact), unions each query's ≤
  // shards × ef beam output with the stamp-bounded delta, and reranks
  // over the as-of live set. Oracle = q137's replay (persisted
  // qid-keyed beam output as the candidate policy) at the wave-1
  // modulus.

  /** HNSW layout dir of the most recent q196 run — oracle hook. */
  @volatile private var lastStreamDurHnswAsOfAux: Option[String] = None

  def q196(spark: SparkSession, dir: String): DataFrame = {
    val fx = StoreOps.durableFixture(spark, dir, StoreOps.scripts("q196"))
    val out = streamDurAsOf(spark, dir, fx)
    lastStreamDurHnswAsOfAux = fx.store.layoutDir("hnsw", fx.ns, fx.qv.length)
    out
  }

  // ---- q197: streaming as-of on the SIGNATURE durable mount (r19) -----
  //
  // The q192/q194/q195/q196 composition on LSH CLOSES the streaming ×
  // as-of matrix (6/6 durable mounts): per micro-batch the batched
  // as-of kernel hashes each arriving query through the md5 hyperplane
  // family, joins the bucket probe frame against the STANDING stamped
  // signature table (snapshot-safe as built — every signature row
  // stamped ≤ builtSeq ≤ h), unions the stamp-bounded delta, and
  // reranks over the as-of live set. The candidate policy is fully
  // deterministic (no trained artifact), so the oracle re-derives
  // hyperplanes, corpus signatures, AND every query's band buckets
  // relationally — StoreOps.q197Sql, the qid-keyed dlshSqlAt text
  // VERDICT r18 named as this cell's only blocker.

  def q197(spark: SparkSession, dir: String): DataFrame = {
    val fx = StoreOps.durableFixture(spark, dir, StoreOps.scripts("q197"))
    streamDurAsOf(spark, dir, fx, persist = false)
  }

  // ---- q204: streaming FILTERED as-of on the COMPRESSED mount (r20) ---
  //
  // VERDICT r19 optional #6: q190 composed filter × as-of × stream on
  // the IVF route only; with q200–q203 grading the filtered batch as-of
  // kernel on every derived mount, this pins that the composition
  // SURVIVES ARRIVAL BATCHING on a code mount too. Per micro-batch the
  // arriving queries run `findSimilarBatchAsOf(index = "pq",
  // filter = tenant)` — the q200 kernel: tenant predicate cuts the one
  // pruned codes sweep BEFORE each query's ADC CandN heap (the q170
  // semi-join discipline), kills and delta both bounded at the recorded
  // stamp. The code table is snapshot-safe AS BUILT (q181's structural
  // fact), and the per-query probe is independent of its batch-mates,
  // so the drained stream is pinned positionally equal to the one-shot
  // filtered batch twin, whose persisted qid-keyed probes/LUTs feed the
  // oracle replay (StoreOps.q204Sql = q200's text). At 100 TB this is
  // the nightly tenant eval AS A SERVICE: evaluation queries stream in,
  // every answer reproducible against the stamp recorded at job start.

  /** PQ codes dir of the most recent q204 run — oracle hook. */
  @volatile private var lastStreamDurPqFAsOfAux: Option[String] = None

  /** THE streaming as-of route (q192–q197, q204–q208 — every durable
    * mount, filtered and not): drain the query stream, serve each
    * micro-batch from the fixture's batch as-of read, guard the probe
    * branch (one build per structure, zero rescues, k hits per query),
    * and pin the drained stream positionally equal to the one-shot batch
    * twin — whose persisted candidate policy (`persist`) is the
    * oracle's (idempotent: same store, horizon, queries, predicate). */
  private def streamDurAsOf(spark: SparkSession, dir: String,
                            fx: StoreOps.DurableFixture,
                            persist: Boolean = true): DataFrame = {
    import spark.implicits._
    val (store, qs, k) = (fx.store, fx.queries, fx.k)
    val rescues0 = store.exactRescues.get()
    val buf =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, String, Double)]()
    drainQueryBatches(spark, dir, 0L, qs.length.toLong) { rows =>
      // qid = vec_id = position in the fixture's vec_id-ordered query
      // set (contiguous from 0); k × Q hit rows only
      val res = fx.search(rows.map(_._2.toSeq), batch = true)
      rows.map(_._1.toInt).zip(res).foreach { case (qid, hits) =>
        hits.zipWithIndex.foreach { case (h, r) =>
          buf.add((qid, r + 1, h.id, h.score))
        }
      }
    }
    val streamRows: Seq[(Int, Int, String, Double)] =
      buf.toArray(Array.empty[(Int, Int, String, Double)]).toSeq
        .sortBy(x => (x._1, x._2))
    require(fx.inWindow,
      s"${fx.ns}'s combined mutation window crossed the staleness ratio — " +
        "the oracle replays the first derived structure at the wave-1 horizon")
    require(store.exactRescues.get() == rescues0 &&
        streamRows.size == qs.length * k,
      s"${fx.ns} did not serve every streamed query from the " +
        s"${fx.script.index} probe branch (${streamRows.size} rows, " +
        s"${store.exactRescues.get() - rescues0} rescues)")
    // stream ≡ batch, once per dir (the q190 convention)
    graft.ParityGate.once(streamParityChecked, s"${fx.ns}|$dir") {
      val oneShot = fx.search(qs, batch = true, persist)
      val oneRows = oneShot.zipWithIndex.flatMap { case (hits, qi) =>
        hits.zipWithIndex.map { case (h, r) => (qi, r + 1, h.id, h.score) }
      }.sortBy(x => (x._1, x._2))
      require(streamRows == oneRows,
        "the drained stream's snapshot answers diverged from the one-shot " +
          "batch as-of twin — arrival batching changed a snapshot read")
    }
    streamRows.toDF("qid", "rank", "id", "score")
      .withColumn("score", graft.functions.Det.r4(col("score")))
      .orderBy("qid", "rank")
  }

  private val streamParityChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def q204(spark: SparkSession, dir: String): DataFrame = {
    val fx = StoreOps.durableFixture(spark, dir, StoreOps.scripts("q204"))
    val out = streamDurAsOf(spark, dir, fx)
    lastStreamDurPqFAsOfAux = fx.store.layoutDir("pq", fx.ns, fx.qv.length)
    out
  }

  // ---- q205–q208: the streaming × filtered × as-of matrix CLOSED 6/6
  // (r20) — with q190 (ivf) and q204 (pq), every durable mount now
  // serves the tenant-filtered snapshot stream; same route, same
  // fixture script, each mount's existing filtered batch as-of replay
  // grading its streamed form (the q204 one-text rationale) -------------

  @volatile private var lastStreamDurBqFAsOfAux: Option[(String, String)] = None

  def q205(spark: SparkSession, dir: String): DataFrame = {
    val fx = StoreOps.durableFixture(spark, dir, StoreOps.scripts("q205"))
    val out = streamDurAsOf(spark, dir, fx)
    lastStreamDurBqFAsOfAux = for {
      a <- fx.store.annLayoutDir(fx.ns, fx.qv.length).map(_._1)
      b <- fx.store.layoutDir("bq", fx.ns, fx.qv.length)
    } yield (a, b)
    out
  }

  @volatile private var lastStreamDurImiFAsOfAux: Option[String] = None

  def q206(spark: SparkSession, dir: String): DataFrame = {
    val fx = StoreOps.durableFixture(spark, dir, StoreOps.scripts("q206"))
    val out = streamDurAsOf(spark, dir, fx)
    lastStreamDurImiFAsOfAux = fx.store.layoutDir("imi", fx.ns, fx.qv.length)
    out
  }

  @volatile private var lastStreamDurHnswFAsOfAux: Option[String] = None

  def q207(spark: SparkSession, dir: String): DataFrame = {
    val fx = StoreOps.durableFixture(spark, dir, StoreOps.scripts("q207"))
    val out = streamDurAsOf(spark, dir, fx)
    lastStreamDurHnswFAsOfAux = fx.store.layoutDir("hnsw", fx.ns, fx.qv.length)
    out
  }

  def q208(spark: SparkSession, dir: String): DataFrame = {
    val fx = StoreOps.durableFixture(spark, dir, StoreOps.scripts("q208"))
    streamDurAsOf(spark, dir, fx)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q46_stream_event_window" -> (q46 _),
      "q132_stream_embed" -> (q132 _),
      "q176_stream_search" -> (q176 _),
      "q178_stream_search_ivf" -> ((s: SparkSession, d: String) => {
        val out = q178(s, d)
        lastStreamIvfAux = Some(graft.operators.Ann.ensureLayout(s, d))
        out
      }),
      "q180_stream_search_pq" -> ((s: SparkSession, d: String) => {
        val out = q180(s, d)
        lastStreamPqAux = Some((graft.operators.IvfPq.ensureLayout(s, d),
          graft.operators.Pq.ensureLayout(s, d)))
        out
      }),
      "q182_stream_search_filtered" -> ((s: SparkSession, d: String) => {
        val out = q182(s, d)
        lastStreamFilteredAux = Some(graft.operators.Ann.ensureLayout(s, d))
        out
      }),
      "q187_stream_search_imi" -> ((s: SparkSession, d: String) => {
        val out = q187(s, d)
        lastStreamImiAux = Some(graft.operators.Ann.ensureImiLayout(s, d))
        out
      }),
      "q188_stream_search_bq" -> (q188 _),
      "q189_stream_search_hnsw" -> ((s: SparkSession, d: String) => {
        val out = q189(s, d)
        lastStreamHnswAux = Some(graft.operators.Hnsw.ensureLayout(s, d))
        out
      }),
      "q190_stream_search_durable_asof" -> (q190 _),
      "q192_stream_durable_pq_asof" -> (q192 _),
      "q194_stream_durable_bq_asof" -> (q194 _),
      "q195_stream_durable_imi_asof" -> (q195 _),
      "q196_stream_durable_hnsw_asof" -> (q196 _),
      "q197_stream_durable_lsh_asof" -> (q197 _),
      "q204_stream_durable_pq_filtered_asof" -> (q204 _),
      "q205_stream_durable_bq_filtered_asof" -> (q205 _),
      "q206_stream_durable_imi_filtered_asof" -> (q206 _),
      "q207_stream_durable_hnsw_filtered_asof" -> (q207 _),
      "q208_stream_durable_lsh_filtered_asof" -> (q208 _),
      "q191_stream_search_opq" -> ((s: SparkSession, d: String) => {
        val out = q191(s, d)
        lastStreamOpqAux = Some(graft.operators.Opq.ensureLayout(s, d))
        out
      }),
      "q146_stream_pii" -> (q146 _),
      "q47_stream_sessionize" -> (q47 _),
      "q67_stream_dedup" -> (q67 _),
      "q70_stream_static_join" -> (q70 _),
      "q88_stream_range_join" -> (q88 _),
      "q91_stream_hopping_window" -> (q91 _),
      "q96_stream_session_window" -> (q96 _))

  /** q46/q47 reuse the batch twins' oracle texts — that equality IS the
    * parity claim. */
  def oracles: Map[String, String] =
    lastStreamIvfAux.map(aux => "q178_stream_search_ivf" -> q178Sql(aux)).toMap ++
    lastStreamPqAux.map { case (aux, pqAux) =>
      "q180_stream_search_pq" -> q180Sql(aux, pqAux) }.toMap ++
    lastStreamFilteredAux.map(aux =>
      "q182_stream_search_filtered" -> q182Sql(aux)).toMap ++
    lastStreamImiAux.map(aux =>
      "q187_stream_search_imi" -> q187Sql(aux)).toMap ++
    lastStreamHnswAux.map(aux =>
      "q189_stream_search_hnsw" -> q189Sql(aux)).toMap ++
    lastStreamDurAsOfAux.map { case (aux, probesDir) =>
      "q190_stream_search_durable_asof" -> q190Sql(aux, probesDir) }.toMap ++
    lastStreamDurPqAsOfAux.map(aux =>
      "q192_stream_durable_pq_asof" -> graft.operators.StoreOps.q192Sql(aux)).toMap ++
    lastStreamDurPqFAsOfAux.map(aux =>
      "q204_stream_durable_pq_filtered_asof" ->
        graft.operators.StoreOps.q204Sql(aux)).toMap ++
    lastStreamDurBqFAsOfAux.map { case (ann, aux) =>
      "q205_stream_durable_bq_filtered_asof" ->
        graft.operators.StoreOps.q205Sql(ann, aux) }.toMap ++
    lastStreamDurImiFAsOfAux.map(aux =>
      "q206_stream_durable_imi_filtered_asof" ->
        graft.operators.StoreOps.q206Sql(aux)).toMap ++
    lastStreamDurHnswFAsOfAux.map(aux =>
      "q207_stream_durable_hnsw_filtered_asof" ->
        graft.operators.StoreOps.q207Sql(aux)).toMap ++
    Map("q208_stream_durable_lsh_filtered_asof" ->
      graft.operators.StoreOps.q208Sql) ++
    lastStreamDurBqAsOfAux.map { case (ann, aux) =>
      "q194_stream_durable_bq_asof" -> graft.operators.StoreOps.q194Sql(ann, aux) }.toMap ++
    lastStreamDurImiAsOfAux.map(aux =>
      "q195_stream_durable_imi_asof" ->
        graft.operators.StoreOps.q195Sql(aux)).toMap ++
    lastStreamDurHnswAsOfAux.map(aux =>
      "q196_stream_durable_hnsw_asof" ->
        graft.operators.StoreOps.q196Sql(aux)).toMap ++
    lastStreamOpqAux.map(aux =>
      "q191_stream_search_opq" -> q191Sql(aux)).toMap ++
    Map("q188_stream_search_bq" -> q188Sql) ++
    Map("q197_stream_durable_lsh_asof" -> graft.operators.StoreOps.q197Sql) ++
    Map("q46_stream_event_window" -> graft.operators.EventOps.q29Sql,
      "q47_stream_sessionize" -> graft.operators.EventOps.q28Sql,
      "q132_stream_embed" -> graft.operators.TextAnalysis.q129Sql,
      "q146_stream_pii" -> graft.operators.TextAnalysis.q141Sql,
      "q176_stream_search" -> q176Sql,
      "q67_stream_dedup" -> q67Sql,
      "q70_stream_static_join" -> q70Sql,
      "q88_stream_range_join" -> q88Sql,
      "q91_stream_hopping_window" -> q91Sql,
      "q96_stream_session_window" -> q96Sql)
}
