package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.operators.dec

/** Structured-Streaming re-expression of the reference's transparent
  * serial relay (serial_streaming.lua): a byte stream is windowed,
  * accounted, and rebroadcast; per-stream budgets cut off transmission
  * (notes.org "shutdown after 100 mb").
  *
  * `windowedRelay` is the scale-safe relay shape: watermarked
  * event-time windows in APPEND mode into a durable parquet sink —
  * per-key streaming state is bounded by the watermark and finalized
  * windows leave the executors permanently, unlike a complete-mode
  * memory sink whose driver-held state grows with key cardinality and
  * is rewritten every batch. The batch gate drives it synchronously
  * over the test parquet and reads the sink back for the DuckDB
  * oracle. `statefulBudget` is the arbitrary-state variant
  * (flatMapGroupsWithState) exercised by ScalaTest.
  */
object StreamRelay {

  /** Temp roots awaiting JVM-exit deletion; ONE static hook drains
    * the registry (a hook per windowedRelay call would accumulate
    * one thread per invocation in a long-lived application). */
  private val exitCleanup =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val exitHookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      exitCleanup.asScala.toSeq.foreach { d =>
        try {
          if (java.nio.file.Files.exists(d)) {
            val walk = java.nio.file.Files.walk(d)
            try walk.iterator().asScala.toSeq.reverse
              .foreach(java.nio.file.Files.deleteIfExists(_))
            finally walk.close()
          }
        } catch { case _: Throwable => () }
      }
    }))
    true
  }
  private[graft] def deleteOnExit(p: java.nio.file.Path): Unit = {
    exitHookInstalled
    exitCleanup.add(p)
  }

  private[graft] def deleteTree(roots: java.nio.file.Path*): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    roots.filter(Files.exists(_)).foreach { d =>
      val walk = Files.walk(d)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** Windowed rebroadcast with queue accounting: watermark + append
    * mode + parquet sink, driven to completion. A second "barrier"
    * micro-batch carrying one far-future sentinel row pushes the
    * watermark past every real window so append mode flushes them all
    * — the bounded-input analogue of the stream simply staying open. */
  def windowedRelay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val tmp = graft.sources.Scratch.tempDir("graft_relay_")
    // outDir must outlive this call (the returned DataFrame reads it
    // lazily), but not the JVM: without the exit registration every
    // invocation would leave a sink directory in /tmp permanently
    deleteOnExit(tmp)
    val inDir = tmp.resolve("in"); val outDir = tmp.resolve("out"); val ck = tmp.resolve("ck")
    // staging or query start can throw (disk full, bad schema): the
    // input-sized staged copy must not survive such a failure, so the
    // whole stage+start+drive path cleans up in one try
    val q =
      try {
        Files.createDirectories(inDir)
        val staged = inDir.resolve("batch0.parquet")
        Files.copy(Paths.get(s"$dir/events.parquet"), staged,
          StandardCopyOption.REPLACE_EXISTING)
        // run the streaming query in a cloned session whose state
        // width is sized to the copied events file, the staged twins'
        // rule (StreamDedup.stateWidth), not the batch engine's width
        val ss = StreamDedup.stateSession(spark, Files.size(staged))
        // no-data micro-batches stay ON here (unlike runStagedStream's
        // sentinel-flushed twins): the barrier row advances the
        // watermark in batch N, but the windows that watermark closes
        // emit in batch N+1 — which has no data. Measured r10:
        // disabling them loses exactly the final windows
        // (8951 vs 8953 rows at sf0.01).
        startAppendRelay(ss, schema, inDir.toString, outDir.toString, ck.toString)
      } catch {
        case e: Throwable => deleteTree(tmp); throw e
      }
    try {
      q.processAllAvailable()
      barrierRow(spark, schema).coalesce(1).write.mode("append").parquet(inDir.toString)
      q.processAllAvailable()
    } finally {
      q.stop()
      // the staged input copy (full events file) and the checkpoint
      // are dead once the query stops — delete them so repeated runs
      // don't accumulate input-sized copies in /tmp
      deleteTree(inDir, ck)
    }
    // null-safe: a NULL event_type window is real output the batch
    // groupBy keeps; =!= would drop it along with the barrier rows
    spark.read.parquet(outDir.toString).filter(!($"event_type" <=> BarrierType))
  }

  /** The relay's streaming query: file source → watermarked 5-minute
    * windows per event_type → append into a durable parquet sink with
    * a checkpoint. Restartable: a new invocation on the same
    * (inDir, outDir, ck) resumes from the checkpoint with
    * exactly-once window emission (tested in InfraSpec). */
  def startAppendRelay(ss: SparkSession, schema: org.apache.spark.sql.types.StructType,
      inDir: String, outDir: String, ck: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import ss.implicits._
    val agg = graft.sources.Tables.normalizeEventTs(
        ss.readStream.schema(schema).parquet(inDir))
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"), $"event_type")
      .agg(count(lit(1)).as("n_events"), sum(dec($"value")).cast(DoubleType).as("bytes_total"))
      .select($"window.start".as("window_start"), $"event_type", $"n_events", $"bytes_total")
    agg.writeStream.outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ck)
      .start()
  }

  val BarrierType = "__barrier"

  /** One sentinel event at 2100-01-01 (past any generated data) in the
    * RAW events schema — all three driver ts encodings supported
    * (nanos-long, µs NTZ, µs UTC timestamp); an unhandled ts type
    * would silently null the sentinel and stall the watermark. */
  def barrierRow(spark: SparkSession, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.types.{LongType => SLong, TimestampNTZType => SNtz, TimestampType => STs}
    val cols = schema.fields.map { f =>
      (f.name, f.dataType) match {
        case ("ts", SLong) => lit(4102444800L * 1000000000L).as("ts")
        case ("ts", STs) => lit(java.sql.Timestamp.valueOf("2100-01-01 00:00:00")).as("ts")
        case ("ts", SNtz) =>
          lit(java.time.LocalDateTime.of(2100, 1, 1, 0, 0, 0)).as("ts")
        case ("event_type", _) => lit(BarrierType).as("event_type")
        case (n, dt) => lit(null).cast(dt).as(n)
      }
    }
    spark.range(1).select(cols.toSeq: _*)
  }

  /** The full serial-proxy shape end-to-end: binary frames arrive on
    * a stream, are parsed by the native UnpackFrame expression, and
    * downsampled to one record per (device, second) — the reference's
    * receive→parse→throttle path as one streaming plan. Drives the
    * query synchronously into a durable parquet sink (RAM scratch)
    * and returns a lazy scan of it — the driver never holds the
    * emitted rows (same posture as StreamDedup.runStagedStream). */
  def frameIngest(spark: SparkSession, framesPath: String): org.apache.spark.sql.DataFrame = {
    val schema = spark.read.parquet(framesPath).schema
    val throttled = parseAndThrottle(
      spark.readStream.schema(schema).parquet(framesPath))
    val outDir = graft.sources.Scratch.tempDir("graft_fingest_")
    deleteOnExit(outDir)
    val ck = graft.sources.Scratch.tempDir("graft_fingest_ck_")
    val q = throttled.writeStream.outputMode("append").format("parquet")
      .option("path", outDir.toString)
      .option("checkpointLocation", ck.toString).start()
    try q.processAllAvailable() finally { q.stop(); deleteTree(ck) }
    spark.read.schema(throttled.schema).parquet(outDir.toString)
  }

  /** The receive→parse→throttle plan shared by every frame source
    * (file-backed or live/unbounded): parse frames with the native
    * UnpackFrame expression, then throttle to one record per
    * (device, second) via watermarked streaming dedup — the 5 Hz →
    * 1 Hz rule (notes.org) as bounded streaming state. Works
    * identically over any streaming DataFrame with a binary `frame`
    * column (parquet file stream, rate-derived frames, socket bytes). */
  def parseAndThrottle(frames: DataFrame): DataFrame = {
    import graft.plans.Frame
    frames
      .withColumn("parsed", Frame.unpack(col("frame")))
      .select(col("parsed.device").as("device"), col("parsed.ts_secs").as("ts_secs"),
        timestamp_seconds(col("parsed.ts_secs")).as("tsc"))
      .withWatermark("tsc", "10 minutes")
      .dropDuplicates("device", "ts_secs")
  }

  case class RelayEvent(user_id: Long, ts_us: Long, kb: Double)
  case class Emitted(user_id: Long, ts_us: Long, cum_kb: Double)
  case class ClosedSession(user_id: Long, n_events: Long, last_ts_us: Long)
  /** RelayEvent plus the watermarked event-time column — the
    * watermark attribute must survive into the stateful operator's
    * input for event-time timeouts to resolve. */
  case class TimedEvent(user_id: Long, ts_us: Long, kb: Double, ts: java.sql.Timestamp)

  /** Inactivity shutdown as streaming state (notes.org: "wait for
    * signal for 30 minutes, if not, start transmitting"/shutdown):
    * per-user session state expires via EVENT-TIME timeout once the
    * watermark passes last-activity + the inactivity gap, emitting a
    * closed-session record. Requires the caller to have applied
    * `withWatermark` on the `ts` column. */
  def sessionClose(events: org.apache.spark.sql.Dataset[TimedEvent],
      inactivityMs: Long): org.apache.spark.sql.Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, evs, state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            val (n, last) = state.get
            state.remove()
            Iterator.single(ClosedSession(user, n, last))
          } else {
            val batch = evs.toSeq
            val (n0, last0) = state.getOption.getOrElse((0L, Long.MinValue))
            val n = n0 + batch.size
            val last = math.max(last0, batch.map(_.ts_us).max)
            state.update((n, last))
            state.setTimeoutTimestamp(last / 1000 + inactivityMs)
            Iterator.empty
          }
      }
  }

  case class GateEvent(user_id: Long, ts_us: Long, event_id: Long, event_type: String)
  case class GateOut(user_id: Long, event_id: Long, forwarded: Boolean)

  /** Proxy lifecycle gate as streaming state (the reference proxy's
    * enable/disable relay switch): control events flip the per-stream
    * boolean, data events are emitted tagged with the gate state at
    * their event time. Streams start disabled. Batch-internal order
    * is event time (stable), matching Telemetry.relayGate under the
    * same delivery contract as [[statefulBudget]]: micro-batches
    * arrive in event-time order per key (a data event older than an
    * already-processed control event would be tagged with the current
    * gate, where the batch plan uses the gate at its event time — an
    * event-time-buffered variant would need a watermark + timer like
    * [[sessionClose]]). Per-key state is one boolean and lives for
    * the stream's lifetime, the gate's actual semantics. */
  def statefulGate(events: Dataset[GateEvent]): Dataset[GateOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Boolean, GateOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, evs, state: GroupState[Boolean]) =>
          var on = state.getOption.getOrElse(false)
          val out = evs.toSeq.sortBy(e => (e.ts_us, e.event_id)).flatMap { e =>
            e.event_type match {
              case "signup" => on = true; None
              case "error" => on = false; None
              case _ => Some(GateOut(e.user_id, e.event_id, on))
            }
          }
          state.update(on)
          out.iterator
      }
  }

  case class ConfigOut(user_id: Long, event_id: Long, gate_on: Boolean,
      in_restart: Boolean, forwarded: Boolean)

  /** Config-change gate as streaming state — the twin of
    * [[graft.operators.Telemetry.configGate]]: enabled-changes flip
    * the per-stream gate, any other config change opens a restart
    * blackout until ts + restartUs; data events are tagged with
    * (gate, in-restart, forwarded) at their event time. Two-field
    * state per key; same delivery contract as [[statefulGate]]. */
  def statefulConfigGate(events: Dataset[GateEvent], restartUs: Long): Dataset[ConfigOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Boolean, Long), ConfigOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, evs, state: GroupState[(Boolean, Long)]) =>
          var (on, blackoutUntil) = state.getOption.getOrElse((false, Long.MinValue))
          val ordered = evs.toSeq.sortBy(e =>
            (e.ts_us,
              if (e.event_type == "signup" || e.event_type == "error" ||
                e.event_type == "purchase") 0 else 1,
              e.event_id))
          val out = ordered.flatMap { e =>
            e.event_type match {
              case "signup" => on = true; None
              case "error" => on = false; None
              case "purchase" => blackoutUntil = e.ts_us + restartUs; None
              case _ =>
                val inRestart = blackoutUntil > e.ts_us
                Some(ConfigOut(e.user_id, e.event_id, on, inRestart, on && !inRestart))
            }
          }
          state.update((on, blackoutUntil))
          out.iterator
      }
  }

  case class DelayedOut(user_id: Long, event_id: Long, enabled: Boolean, pending: Boolean)
  /** (current status, pending target, pending apply time µs) — apply
    * time Long.MinValue when no timer is armed. */
  case class DelayedState(cur: Int, pendTarget: Int, pendApplyUs: Long)

  /** Delayed status transitions as streaming state — the timer twin
    * of [[graft.operators.Telemetry.statusDelayed]] (reference:
    * serial_streaming.lua SetStatus): a command with timeout τ arms a
    * pending transition applied at t+τ; a newer command disarms it
    * (the timer wins exact ties, matching the batch plan's
    * armed-iff-next ≥ apply rule). The timer is applied LAZILY when
    * the next event for the user crosses the apply instant — data
    * events only observe state AT their event time, so lazy firing is
    * observationally identical to a wall-clock timer while keeping
    * per-key state at three fields. Delivery contract as
    * [[statefulGate]]: micro-batches arrive in event-time order per
    * key. */
  def statefulDelayed(events: Dataset[GateEvent], tauUnitUs: Long): Dataset[DelayedOut] = {
    import events.sparkSession.implicits._
    val none = Long.MinValue
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[DelayedState, DelayedOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, evs, state: GroupState[DelayedState]) =>
          var st = state.getOption.getOrElse(DelayedState(0, 0, none))
          def firePending(t: Long): Unit =
            if (st.pendApplyUs != none && st.pendApplyUs <= t)
              st = DelayedState(st.pendTarget, 0, none)
          // controls sort ahead of data at the same instant (the
          // batch plan's kind order: apply 0, arrival 1, data 2)
          val ordered = evs.toSeq.sortBy(e =>
            (e.ts_us, if (e.event_type == "signup" || e.event_type == "error") 0 else 1,
              e.event_id))
          val out = ordered.flatMap { e =>
            firePending(e.ts_us)
            e.event_type match {
              case "signup" | "error" =>
                val target = if (e.event_type == "signup") 1 else 0
                val tau = (e.event_id % 4) * tauUnitUs
                st = if (tau <= 0) DelayedState(target, 0, none)
                     else DelayedState(st.cur, target, e.ts_us + tau)
                None
              case _ =>
                Some(DelayedOut(e.user_id, e.event_id, st.cur == 1,
                  st.pendApplyUs != none && st.pendApplyUs > e.ts_us))
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Per-user transmission budget as streaming state: events pass
    * through until the cumulative KB crosses the budget, then the
    * stream for that user shuts down (reference: 100 MB shutdown). */
  def statefulBudget(events: Dataset[RelayEvent], budgetKb: Double): Dataset[Emitted] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Double, Emitted](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, evs, state: GroupState[Double]) =>
          var cum = state.getOption.getOrElse(0.0)
          // batch-internal ordering: event time (stable across runs);
          // prefix-sum-then-filter matches Telemetry.dataBudget exactly
          val out = evs.toSeq.sortBy(_.ts_us).flatMap { e =>
            cum += e.kb
            if (cum <= budgetKb) Some(Emitted(e.user_id, e.ts_us, cum)) else None
          }
          state.update(cum)
          out.iterator
      }
  }

  // user_id/cents are Option: the batch window keeps the NULL-user
  // partition, and a NULL value leaves the running SUM unchanged —
  // with an all-NULL prefix the window sum itself is NULL and the
  // WHERE excludes the row, which the `started` flag reproduces
  case class BudgetEvent(event_id: Long, user_id: Option[Long], ts_us: Long, cents: Option[Long])
  case class BudgetOut(event_id: Long, user_id: Option[Long], ts_us: Long, cum_cents: Long)

  /** [[statefulBudget]] with ORACLE-exact arithmetic: the running
    * total accumulates integer CENTS in per-user state (a double
    * accumulator drifts from the batch operator's decimal sum in the
    * last ulp), ties at the same µs order by event_id — the same
    * (ts, event_id) total order the batch window uses. */
  def incrementalBudget(events: Dataset[BudgetEvent],
      budgetCents: Long): Dataset[BudgetOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, BudgetOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, evs, state: GroupState[Long]) =>
          var started = state.exists
          var cum = state.getOption.getOrElse(0L)
          val out = evs.toSeq.sortBy(e => (e.ts_us, e.event_id)).flatMap { e =>
            e.cents.foreach { c => cum += c; started = true }
            if (started && cum <= budgetCents)
              Some(BudgetOut(e.event_id, e.user_id, e.ts_us, cum))
            else None
          }
          if (started) state.update(cum)
          out.iterator
      }
  }

  /** STREAMING data budget, batch-gated (`stream_budget`): the events
    * table staged as two median-time micro-batches through
    * [[incrementalBudget]] — every user's batch-1 events precede
    * batch-2, so a budget partially consumed in batch 1 must CARRY
    * into batch 2 for the output to aggregate to the batch
    * [[graft.operators.Telemetry.dataBudget]] result (the shared
    * oracle). State lost between batches restarts a user's running
    * total, which shows up as a non-monotonic cum sequence — checked
    * loudly in-operator before the gate ever compares. */
  def streamedBudget(spark: SparkSession, dir: String,
      budgetKb: String = "5000.00"): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.LongType
    val budgetCents = new java.math.BigDecimal(budgetKb)
      .movePointRight(2).longValueExact()
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"),
        round($"value" * 100).cast(LongType).as("cents"))
    val bounds = StreamDedup.cachedHead(ev.agg(min($"ts_us"), max($"ts_us")))
    if (bounds.isNullAt(0)) return spark.emptyDataset[BudgetOut].toDF()
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val log = StreamDedup.runStagedStream(spark,
        Seq(ev.filter($"ts_us" <= cut), ev.filter($"ts_us" > cut))) { stream =>
      incrementalBudget(stream.as[BudgetEvent], budgetCents).toDF()
    }.getOrElse(return spark.emptyDataset[BudgetOut].toDF())
    val w = Window.partitionBy($"user_id").orderBy($"ts_us".asc, $"event_id".asc)
    // values are non-negative, so a DECREASE can only mean the running
    // total restarted (lost state); equality is legal — zero-value
    // events leave the total unchanged
    val broken = log.withColumn("prev", lag($"cum_cents", 1).over(w))
      .filter($"prev".isNotNull && $"cum_cents" < $"prev").count()
    if (broken > 0)
      throw new IllegalStateException(
        s"streamed budget: $broken non-monotonic running totals " +
          "(cross-batch budget state lost)")
    log.select($"event_id", $"user_id", timestamp_micros($"ts_us").as("ts"),
      ($"cum_cents" / 100.0d).as("cum_kb"))
  }
}
