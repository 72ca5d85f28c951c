package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.Format5
import graft.functions.Num.{halfUp, oround}

/** The reference-parity dataflow (OP-03..OP-13 composed), batch and
  * streaming: whitelist → validate → decode → 30-min tumbling window →
  * per-sensor aggregate (two-stage rounding + wrap-aware movement delta) →
  * name enrichment → dual vertical-split sinks.
  *
  * Reference trace: `/root/reference/src/main.rs:69-184` (interval loop),
  * `src/bluetooth/scanner.rs:169-185` (whitelist/decode),
  * `src/utils.rs:37-95` (aggregate), `src/database/operations.rs:17-90`
  * (dual sink).
  *
  * Input contract: `readings(mac STRING, ts TIMESTAMP, payload BINARY)` —
  * one row per received advertisement; `tags(mac STRING, name STRING)` —
  * the config dimension (`RUUVI_TAGS`, `src/config.rs:36-53`), broadcast.
  *
  * Scale notes: the window+mac aggregate is ONE partially-aggregated
  * shuffle keyed on (window, mac) — group count is bounded by
  * sensors × windows, so the shuffle output is tiny at any input scale.
  * The enrichment is a broadcast hash join (the dimension is config-sized).
  * No collects, no driver-side state: the reference's per-interval
  * `HashMap` buffer (`src/main.rs:72`) becomes Spark window state.
  */
object Pipeline {

  /** OP-03: key-whitelist semi-join against the broadcast tag dimension,
    * MACs uppercased first (`scanner.rs:175-178`). */
  def whitelist(readings: DataFrame, tags: DataFrame): DataFrame = {
    val up = readings.withColumn("mac", upper(col("mac")))
    val keys = tags.select(upper(col("mac")).as("mac"))
    up.join(broadcast(keys), Seq("mac"), "left_semi")
  }

  /** OP-05 + OP-06: drop malformed payloads (never null them), decode the
    * rest with decode-stage rounding (`scanner.rs:35-83`).
    *
    * Validity first, then ONE decode per reading: the byte predicate
    * [[graft.functions.Format5.isValid]] (length 24, tag byte 5) is the
    * exact set of payloads the decode does not map to NULL, so nothing
    * NULL survives to the projection. Filtering on the decoded struct's
    * `isNotNull` instead lets Catalyst push `isnotnull(format5_decode(
    * payload))` below the projection, which decodes every row twice.
    *
    * Uses the engine's native `format5_decode` expression (one codegen'd
    * byte-level pass, no BigDecimal — see [[graft.plans.Format5Decode]]) —
    * the composed substring→hex→conv chain survives as
    * [[graft.functions.Format5.decodeAll]] and is pinned bit-identical to
    * the native path over every raw value (`Format5DecodeSpec`) and by the
    * shared m03/m05 oracle. Requires a session with
    * [[graft.plans.GraftExtensions]] (any [[graft.Engine]] session). */
  def decode(readings: DataFrame): DataFrame =
    readings
      .filter(Format5.isValid(col("payload")))
      .select(col("mac"), col("ts"), expr("format5_decode(payload)").as("dec"))
      .select(
        col("mac"), col("ts"),
        col("dec.temperature").as("temperature"),
        col("dec.humidity").as("humidity"),
        col("dec.pressure").as("pressure"),
        col("dec.acceleration_x").as("acceleration_x"),
        col("dec.acceleration_y").as("acceleration_y"),
        col("dec.acceleration_z").as("acceleration_z"),
        col("dec.movement_counter").as("movement_counter"))

  /** EXACT-INTEGER MEAN over d-decimal grid inputs: the decode stage
    * rounds every value to a fixed decimal grid, so `x·10^d` is an
    * integer recovered exactly by one half-up round; summing those
    * LONGS is exact and ORDER-INDEPENDENT (vs a double `avg`, whose
    * last-ulp depends on accumulation order — at ×10-staged group
    * sizes that ulp flipped the final 2dp rounding on exact midpoints
    * between Spark and DuckDB, the round-13 "midpoint-ulp" class; grid
    * means are rationals that land EXACTLY on .xx5, so no jitter or
    * compensated float sum can close it). Both engines now divide the
    * SAME exact integer pair in the same order, get the bit-identical
    * double, and round it the same way — and as a side effect the
    * pipeline's aggregates are bit-reproducible under ANY partitioning
    * or parallelism, which a floating avg never is. The per-reading
    * round is [[graft.functions.Num.halfUp]], Spark's `round(·, 0)`
    * without its BigDecimal. */
  private def gridAvg(c: String, d: Int): Column = {
    val p = math.pow(10, d)
    oround(
      (sum(halfUp(col(c) * p).cast("long")).cast("double") /
        count(lit(1))) / p, d)
  }

  /** The aggregate's tumbling window (the reference's 30-minute interval
    * loop, `main.rs:69-184`); [[aggregate]]'s movement key depends on it. */
  private val WindowMinutes = 30
  private val WindowMicros = WindowMinutes * 60L * 1000000L

  /** OP-07 + OP-08 + OP-11: 30-minute tumbling window per sensor.
    *
    * - Averages are over already-rounded decode outputs and rounded AGAIN
    *   here (2 dp atmospherics / 3 dp acceleration) — the reference's
    *   two-stage rounding (`utils.rs:75-80` over `scanner.rs:68-73`).
    * - Movement delta = (last − first) mod 256 in ARRIVAL (ts) order
    *   (`utils.rs:64-71`, u8 wrapping_sub), with the counter as the
    *   tiebreak when two readings share a timestamp (the reference's
    *   arrival order is undefined there too — SURVEY §7 hard-point 2
    *   forbids order-nondeterministic aggregates). Each reading carries
    *   one long key, `pmod(unix_micros(ts), window) · 256 + counter`:
    *   inside one window the offset orders exactly as `ts`, and the
    *   counter (< 256) fills the low byte, so `max`/`min` of the key pick
    *   the last/first reading by `(ts, counter)`, and `max − min ≡
    *   last − first (mod 256)`. The offset is below 1.8e9 µs, so the key
    *   stays under 2^39 for any timestamp, pre-1970 included. Plain
    *   `max`/`min` of a long keep the aggregate on the hash path;
    *   `max_by` over a struct ordering plans as a SortAggregate with a
    *   sort on both sides of the shuffle.
    * - `time` = window end (deterministic stand-in for the reference's
    *   `now_utc()` stamped at aggregation, `utils.rs:82`).
    * - Sensors with no readings in a window simply have no group — empty
    *   groups are omitted, not nulled (`utils.rs:44-47`). */
  def aggregate(decoded: DataFrame): DataFrame = {
    val movementKey =
      pmod(unix_micros(col("ts")), lit(WindowMicros)) * 256L + col("movement_counter")
    decoded
      .groupBy(window(col("ts"), s"$WindowMinutes minutes").as("w"), col("mac"))
      .agg(
        gridAvg("temperature", 2).as("temperature"),
        gridAvg("humidity", 2).as("humidity"),
        gridAvg("pressure", 2).as("pressure"),
        gridAvg("acceleration_x", 3).as("acceleration_x"),
        gridAvg("acceleration_y", 3).as("acceleration_y"),
        gridAvg("acceleration_z", 3).as("acceleration_z"),
        pmod(max(movementKey) - min(movementKey), lit(256L)).cast("int").as("movement_counter"),
        count(lit(1)).cast("int").as("samples"))
      .select(col("w.end").as("time"), col("*")).drop("w")
  }

  /** OP-10: broadcast left-outer enrichment with the 'Unknown' default
    * (`utils.rs:83-87`). The dimension is deduplicated by key first: the
    * reference's config is a HashMap (unique keys by construction,
    * `config.rs:36-53`), but a dirty dimension here would silently fan out
    * every aggregate row through the left join. The dimension is
    * config-sized, so it is deduplicated in ONE partition: no shuffle
    * (and no exchange job) before it is broadcast. */
  def enrich(agg: DataFrame, tags: DataFrame): DataFrame = {
    val dim = tags.select(upper(col("mac")).as("mac"), col("name"))
      .coalesce(1).dropDuplicates("mac")
    agg
      .join(broadcast(dim), Seq("mac"), "left_outer")
      .withColumn("name", coalesce(col("name"), lit("Unknown")))
  }

  /** Full batch pipeline: readings + tags → enriched per-window aggregates. */
  def batch(readings: DataFrame, tags: DataFrame): DataFrame =
    enrich(aggregate(decode(whitelist(readings, tags))), tags)

  /** OP-19, done the engine way: the reference logs a per-sensor summary
    * and warns on an empty interval by re-reading its in-memory map
    * (`main.rs:156-172`); here the same counters ride the job as OBSERVED
    * metrics — computed inside the already-running action, zero extra
    * passes, retrievable after any action on the returned frame.
    *
    * Usage: `val (agg, obs) = Pipeline.observedBatch(readings, tags);
    * Pipeline.writeBatch(agg, dir); val m = obs.get` — `m("windows")`
    * is the aggregate row count (0 ⇒ the reference's empty-interval
    * warning), `m("readings")` the decoded sample total. */
  def observedBatch(
      readings: DataFrame, tags: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("graft_pipeline")
    val agg = batch(readings, tags).observe(
      obs,
      count(lit(1)).as("windows"),
      coalesce(sum("samples"), lit(0L)).as("readings"),
      min("time").as("first_window"),
      max("time").as("last_window"))
    (agg, obs)
  }

  /** OP-12: atmospheric projection (`operations.rs:31-43`). */
  def sensorProjection(agg: DataFrame): DataFrame =
    agg.select("mac", "temperature", "humidity", "pressure", "time", "name", "samples")

  /** OP-13: movement projection with the u32→i32 cast (`operations.rs:74-87`). */
  def movementProjection(agg: DataFrame): DataFrame =
    agg.select(
      col("mac"), col("acceleration_x"), col("acceleration_y"), col("acceleration_z"),
      col("movement_counter").cast("int").as("movement_counter"),
      col("time"), col("name"), col("samples"))

  /** Dual sink over ONE computed upstream: the aggregate is cached and the
    * two vertical projections are written from it — the upstream is never
    * recomputed per sink (the reference pays two serial INSERT paths,
    * `main.rs:134-154`; and this is the fix for the q09a/q09b
    * double-compute pattern at scale). */
  def writeBatch(agg: DataFrame, outDir: String): Unit = {
    val cached = agg.cache()
    try {
      sensorProjection(cached).write.mode("overwrite").parquet(s"$outDir/sensor_data")
      movementProjection(cached).write.mode("overwrite").parquet(s"$outDir/movement_data")
    } finally cached.unpersist()
  }

  /** The streaming dual sink body: each micro-batch lands in its own
    * `batch_id=` partition with DYNAMIC partition overwrite, so replaying
    * a batch (crash between sink write and checkpoint commit) overwrites
    * exactly its own partition — idempotent, hence effectively
    * exactly-once end-to-end. Public so replay-idempotence is testable
    * without crashing a real query. */
  def writeMicroBatch(batchDf: DataFrame, batchId: Long, outDir: String): Unit = {
    val cached = batchDf.cache()
    def writeIdempotent(df: DataFrame, path: String): Unit =
      df.withColumn("batch_id", lit(batchId))
        .write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    try {
      writeIdempotent(sensorProjection(cached), s"$outDir/sensor_data")
      writeIdempotent(movementProjection(cached), s"$outDir/movement_data")
    } finally { cached.unpersist(); () }
  }

  /** OP-12/13 as a RELATIONAL sink — the engine twin of the reference's
    * load stage, which is parameterized INSERTs into PostgreSQL
    * (`operations.rs:17-90`) behind a hand-rolled 100×5 s reconnect loop
    * (`connection.rs:52-134`). The Spark shape:
    *
    *  - the DataFrame jdbc writer batches INSERTs per partition
    *    (`batchsize`, default 1000) and parallelizes across partitions —
    *    the reference's row-at-a-time `execute` serializes on one
    *    connection;
    *  - transient failures are retried at TASK granularity by the
    *    scheduler (the retry loop nobody has to write), and idempotence
    *    comes from delete-then-insert keyed by `batch_id` below — a
    *    replayed micro-batch deletes exactly its own rows first, the
    *    same contract as [[writeMicroBatch]]'s dynamic partition
    *    overwrite, so crash-replay never double-loads;
    *  - `numPartitions` should be capped (8 here) so a wide upstream
    *    doesn't open hundreds of simultaneous connections against one
    *    database — the classic jdbc-sink failure at cluster scale.
    *
    * Exercised in PipelineSpec against embedded Derby (in-JVM, on the
    * Spark classpath); any JDBC url with a registered Spark dialect
    * (PostgreSQL included) takes the identical path. */
  def writeJdbc(df: DataFrame, url: String, table: String,
      props: java.util.Properties = new java.util.Properties): Unit =
    df.coalesce(8).write.mode("append")
      .option("batchsize", "1000")
      .jdbc(url, table, props)

  /** OP-14's connect-level retry twin (`/root/reference/src/database/
    * connection.rs:57-106`): the reference re-resolves and re-dials the
    * database up to 100 times at 5 s intervals before giving up, so a
    * daemon outlives a database restart. Spark owns write-side fault
    * tolerance (task retry + idempotent batch replay), but the
    * driver-side DELETE statement in [[writeJdbcMicroBatch]] still dials
    * its own connection — a transient refusal there should wait out the
    * restart rather than fail the micro-batch. Only the CONNECT phase
    * retries; statement errors propagate immediately (a bad statement
    * does not become good by retrying, and re-running non-idempotent
    * SQL blindly is how duplicates happen). */
  private[graft] def connectWithRetry(
      url: String, props: java.util.Properties = new java.util.Properties,
      attempts: Int = 100, backoffMs: Long = 5000): java.sql.Connection = {
    var n = 0
    while (true) {
      try return java.sql.DriverManager.getConnection(url, props)
      catch {
        case e: java.sql.SQLException =>
          n += 1
          if (n >= attempts) throw e
          Thread.sleep(backoffMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Delete-then-insert idempotent micro-batch load: rows carry the
    * micro-batch id, and a replay first clears its own id. The DELETE is
    * one driver-side statement (indexable predicate), not a truncate —
    * other batches' rows are never touched, so concurrent readers see
    * at-worst one batch vanish-and-return, exactly like the parquet
    * sink's partition overwrite. */
  def writeJdbcMicroBatch(batchDf: DataFrame, batchId: Long, url: String,
      props: java.util.Properties = new java.util.Properties): Unit = {
    val cached = batchDf.cache()
    def load(df: DataFrame, table: String): Unit = {
      // 12×5 s (one minute), not the reference's 100×5 s: a micro-batch
      // that cannot connect for a minute should fail loudly and let the
      // CHECKPOINT replay it — the stream-level retry the reference
      // daemon lacks is the engine's real recovery path (q44).
      val conn = connectWithRetry(url, props, attempts = 12, backoffMs = 5000)
      try {
        val exists = {
          // Derby/Postgres fold unquoted identifiers to their own case;
          // check both spellings rather than guessing the dialect.
          val md = conn.getMetaData
          Seq(table.toUpperCase, table.toLowerCase, table).exists { t =>
            val rs = md.getTables(null, null, t, null)
            try rs.next() finally rs.close()
          }
        }
        if (exists) {
          // ANSI-quoted column: Spark's writer creates QUOTED lowercase
          // column names, which unquoted identifiers (case-folded by the
          // db) would miss.
          val st = conn.prepareStatement(s"""DELETE FROM $table WHERE "batch_id" = ?""")
          try { st.setLong(1, batchId); st.executeUpdate(); () }
          finally st.close()
        }
      } finally conn.close()
      writeJdbc(df.withColumn("batch_id", lit(batchId)), url, table, props)
    }
    try {
      load(sensorProjection(cached), "sensor_data")
      load(movementProjection(cached), "movement_data")
    } finally { cached.unpersist(); () }
  }

  /** Streaming variant (OP-08 as Structured Streaming): event-time 30-min
    * windows with a watermark, `foreachBatch` dual sink writing each
    * micro-batch into its own `batch_id=` partition with DYNAMIC
    * partition overwrite — a replayed batch (crash between sink write
    * and checkpoint commit) overwrites only its own partition, so the
    * sink is idempotent and the end-to-end guarantee is effectively
    * exactly-once. This supersedes the reference's 100×5 s insert retry
    * (`connection.rs:52-134`). Processing-time trigger mirrors the
    * reference's 30-minute loop cadence.
    *
    * To reproduce reference behavior exactly (processing time, no late
    * data), stamp arrival time as `ts` upstream; the watermark then only
    * bounds state size (SURVEY §7 hard-point 4). */
  def streaming(
      readings: DataFrame,
      tags: DataFrame,
      outDir: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("30 minutes"),
      watermark: String = "1 hour"): StreamingQuery = {
    // Watermark bounds window state (append mode requires it); the SAME
    // declarative plan as batch() then runs incrementally.
    val agg = batch(readings.withWatermark("ts", watermark), tags)
    agg.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batchDf: DataFrame, batchId: Long) =>
        writeMicroBatch(batchDf, batchId, outDir)
      }
      .start()
  }
}
