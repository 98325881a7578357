package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.util.{Cols, Tables}

// Top-level (not object-nested) so Spark's encoder codegen — which
// instantiates these from generated Java — resolves their constructors.
case class Ev(user_id: Long, us: Long, value: Double)
case class EvT(user_id: Long, us: Long, value: Double, ets: java.sql.Timestamp)
case class SessionOut(user_id: Long, n_events: Long, start_us: Long, end_us: Long, total_value: Double)
case class SessState(n: Long, start: Long, last: Long, total: Double)
case class SessionUpd(user_id: Long, n_events: Long, start_us: Long, end_us: Long,
    total_value: Double, is_final: Boolean)
case class TriggerLateness(batch_id: Long, watermark: String,
  rows_in: Long, dropped_by_watermark: Long, state_rows: Long)

/** Event-stream operators (SURVEY.md §2.D).
  *
  * Each operator exists in two equivalent forms:
  *  - a BATCH form over the `events` table (value-oracled vs DuckDB —
  *    timestamps are compared as epoch-microsecond longs, pure integer
  *    arithmetic on both engines);
  *  - a Structured Streaming form (readStream-compatible; spec-tested
  *    with a memory sink) — same semantics, incremental execution.
  *
  * At scale the streaming forms run with watermarks so state is bounded;
  * the batch forms shuffle once on (bucket|user) keys.
  */
object EventStreams {

  /** Tumbling-window aggregation (batch form) over any (ts, event_type,
    * value) frame. Bucketing is integer division on epoch micros: exact.
    */
  def windowAggOn(events: DataFrame, windowMinutes: Int): DataFrame = {
    val us = windowMinutes * 60L * 1000000L
    events
      .withColumn("us", unix_micros(col("ts")))
      // floorDiv, not `div`: the oracle buckets with DuckDB's flooring
      // `//`, and pre-1970 timestamps have negative micros
      .withColumn("bucket", Cols.floorDiv(col("us"), us))
      .groupBy(col("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Cols.pround(sum(col("value")), 2).as("total_value"))
      .withColumn("window_start", timestamp_micros(col("bucket") * us))
      .select(col("bucket"), col("window_start"), col("event_type"), col("n_events"), col("total_value"))
  }

  /** stream_window_agg testdata binding (15-minute windows). */
  def windowAgg(spark: SparkSession, sfDir: String): DataFrame =
    windowAggOn(Tables.events(spark, sfDir), 15)
      .orderBy(col("bucket"), col("event_type"))

  def windowAggSql: String =
    """SELECT bucket, make_timestamp(bucket * 900000000) AS window_start, event_type,
      | count(*) AS n_events, floor(sum(value) * 100.0 + 0.5) / 100.0 AS total_value
      |FROM (SELECT epoch_us(ts) // 900000000 AS bucket, event_type, value FROM events)
      |GROUP BY 1, 3 ORDER BY 1, 3""".stripMargin

  /** Gap-based sessionization (batch form) over any (user_id, event_id,
    * ts, value) frame: lag + running flag-sum assigns session ids, then
    * per-session rollup. One shuffle on user_id; window sorts are
    * per-key local.
    */
  def sessionizeOn(events: DataFrame, gapMinutes: Int): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("sess_idx", sum(col("new_sess")).over(run))
      .groupBy(col("user_id"), col("sess_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"),
        max(col("us")).as("end_us"),
        Cols.pround(sum(col("value")), 2).as("total_value"))
      .withColumn("duration_sec", expr("(end_us - start_us) div 1000000"))
      .select(col("user_id"), col("sess_idx").cast("long").as("sess_idx"),
        col("n_events"), col("start_us"), col("end_us"), col("duration_sec"), col("total_value"))
  }

  /** stream_sessionize testdata binding (30-minute gap). */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame =
    sessionizeOn(Tables.events(spark, sfDir), 30)
      .orderBy(col("user_id"), col("sess_idx"))

  def sessionizeSql: String =
    """WITH flagged AS (
      | SELECT user_id, event_id, value, epoch_us(ts) AS us,
      |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
      | FROM events
      | WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |sess AS (
      | SELECT user_id, event_id, value, us,
      |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_idx
      | FROM flagged)
      |SELECT user_id, CAST(sess_idx AS BIGINT) AS sess_idx, count(*) AS n_events,
      | min(us) AS start_us, max(us) AS end_us,
      | (max(us) - min(us)) // 1000000 AS duration_sec,
      | floor(sum(value) * 100.0 + 0.5) / 100.0 AS total_value
      |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Interval join (batch form): each click paired with the same
    * user's purchases in the preceding 30 minutes — the attribution
    * join. Equi-join on user_id plus a time-band filter; at scale one
    * shuffle on the key, no range explosion beyond the true pair count.
    */
  def intervalJoinBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.events(spark, sfDir).withColumn("us", unix_micros(col("ts")))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("us").as("click_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("prc_id"), col("us").as("prc_us"))
    clicks.join(purchases, Seq("user_id"))
      .filter(col("prc_us") >= col("click_us") - 1800000000L && col("prc_us") <= col("click_us"))
      .select(col("user_id"), col("click_id"), col("prc_id"),
        expr("(click_us - prc_us) div 1000000").as("lag_sec"))
      .orderBy(col("click_id"), col("prc_id"))
  }

  def intervalJoinBatchSql: String =
    """WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS click_us
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id AS prc_id, epoch_us(ts) AS prc_us
      |      FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, click_id, prc_id, (click_us - prc_us) // 1000000 AS lag_sec
      |FROM c JOIN p ON c.user_id = p.user_id
      | AND prc_us >= click_us - 1800000000 AND prc_us <= click_us
      |ORDER BY click_id, prc_id""".stripMargin

  /** Event dedup (batch form): distinct (user_id, event_type,
    * minute-bucket) tuples — the at-least-once-delivery cleanup step.
    * One shuffle on the full tuple.
    */
  /** The dedup key's minute bucket, shared by the batch and streaming
    * forms so their keys agree BY CONSTRUCTION. floorDiv, not `div`:
    * the oracle buckets with DuckDB's flooring `//`, and pre-1970
    * timestamps have negative micros where the two diverge.
    */
  def minuteBucket(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Cols.floorDiv(unix_micros(ts), 60000000L)

  def dedupBatch(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      .withColumn("minute_bucket", minuteBucket(col("ts")))
      .select(col("user_id"), col("event_type"), col("minute_bucket"))
      .distinct()
      .orderBy(col("user_id"), col("event_type"), col("minute_bucket"))
  }

  def dedupBatchSql: String =
    """SELECT DISTINCT user_id, event_type, epoch_us(ts) // 60000000 AS minute_bucket
      |FROM events ORDER BY 1, 2, 3""".stripMargin

  /** Per-day session conversion — the dashboard read over gap
    * sessions: of the sessions STARTING each day, how many contained
    * a purchase, and the exact conversion rate in ppm. Same lag +
    * cumsum island assignment as [[sessionizeOn]] (one user-key
    * shuffle), then a per-session flag rollup and a day-cardinality
    * aggregate — the session's day is its FIRST event's day, so a
    * midnight-spanning session counts once, on its entry day.
    * Integer-division ppm on non-negative counts is engine-safe.
    * Output: (day, n_sessions, n_converted, conv_ppm).
    */
  def sessionConversionOn(events: DataFrame, gapMinutes: Int): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("sess_idx", sum(col("new_sess")).over(run))
      .groupBy(col("user_id"), col("sess_idx"))
      .agg(min(col("us")).as("start_us"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
      // floorDiv, not `div`: floor day bucketing matches DuckDB `//`
      // on pre-1970 (negative-micros) sessions too
      .groupBy(graft.util.Cols.floorDiv(col("start_us"), 86400000000L).as("day_ord"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("converted")).as("n_converted"))
      .select(col("day_ord"), col("n_sessions"), col("n_converted"),
        expr("(1000000 * n_converted) div n_sessions").as("conv_ppm"))
  }

  /** q61_session_conversion testdata binding (30-minute gap). */
  def sessionConversion(spark: SparkSession, sfDir: String): DataFrame =
    sessionConversionOn(Tables.events(spark, sfDir), 30)
      .orderBy(col("day_ord"))

  def sessionConversionSql: String =
    """WITH flagged AS (
      | SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
      |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
      | FROM events
      | WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |sess AS (
      | SELECT user_id, event_type, us,
      |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      | FROM flagged),
      |per AS (
      | SELECT user_id, g, min(us) AS start_us,
      |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      | FROM sess GROUP BY 1, 2)
      |SELECT start_us // 86400000000 AS day_ord,
      | count(*) AS n_sessions,
      | CAST(sum(converted) AS BIGINT) AS n_converted,
      | (1000000 * CAST(sum(converted) AS BIGINT)) // count(*) AS conv_ppm
      |FROM per GROUP BY 1 ORDER BY day_ord""".stripMargin

  /** Native session-window sessionization — the same gap idea as
    * [[sessionizeOn]] but expressed through Spark's `session_window`
    * grouping, the form whose streaming twin runs incrementally with
    * watermark-bounded MERGING state and no custom state function
    * (the engine merges per-event windows [ts, ts+gap] whose CLOSED
    * ends touch — measured, not assumed, and pinned by spec: a
    * successor exactly `gap` after its predecessor still merges, one
    * microsecond beyond splits, so the gap semantics equal the lag
    * form's `diff > gap` split rule). start_us = first event, end_us =
    * last event + gap (the window's close), both exact epoch micros.
    * One shuffle on (user, window); the window-merge is per-key local.
    */
  def sessionNativeOn(events: DataFrame, gapMinutes: Int): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), Cols.pround(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events"), col("total_value"))

  /** stream_session_native testdata binding (30-minute gap). */
  def sessionNative(spark: SparkSession, sfDir: String): DataFrame =
    sessionNativeOn(Tables.events(spark, sfDir), 30)
      .orderBy(col("user_id"), col("start_us"))

  def sessionNativeSql: String =
    """WITH flagged AS (
      | SELECT user_id, event_id, value, epoch_us(ts) AS us,
      |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
      | FROM events
      | WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |sess AS (
      | SELECT user_id, value, us,
      |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      | FROM flagged)
      |SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
      | count(*) AS n_events, floor(sum(value) * 100.0 + 0.5) / 100.0 AS total_value
      |FROM sess GROUP BY user_id, g ORDER BY user_id, start_us""".stripMargin

  // ------------------------------------------------------- streaming forms

  /** Streaming SCD1 maintenance via foreachBatch: each micro-batch of
    * key-stamped updates merges into the current dimension with
    * keep-latest semantics (RetailEtl.keepLatest on the union). The
    * caller provides `load`/`save` for the dim store — parquet dirs,
    * a Delta-style table, or an in-memory handle in tests. At scale
    * each merge costs one shuffle of |dim| + |batch|; the stream's
    * micro-batching bounds |batch|.
    */
  def scd1UpsertSink(updates: DataFrame, key: String, versionCol: String,
      load: () => DataFrame, save: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream.outputMode(OutputMode.Update).foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val merged = graft.operators.RetailEtl.keepLatest(
          load().unionByName(batch.toDF()), Seq(key),
          Seq(col(versionCol).desc))
        save(merged)
    }.start()

  /** STREAMING CDC REPLICA (r16 — the live half of [[graft.sources
    * .TxTable.applyChanges]]): a replica graft-tx table FOLLOWS a
    * source table's change feed as a structured stream. If the
    * replica does not exist it is seeded from the source's current
    * snapshot v0, and the feed subscribes from v0 + 1 (startingVersion
    * is inclusive) — no gap, no replayed snapshot: the first
    * micro-batch is empty and leaves the seeded files as they are.
    * Each micro-batch lands as ONE
    * applyChanges commit keyed by the BATCH ID in the replica's
    * ledger, so the restart replay of the last uncommitted batch
    * (foreachBatch's at-least-once delivery) re-applies as a zero-job
    * no-op — exactly-once end to end. Multi-version catch-up batches
    * are safe by construction: the feed diffs the window's ENDPOINT
    * snapshots, so intermediate states never surface.
    *
    * One checkpoint per replica lifetime — a fresh checkpoint against
    * an existing replica would re-subscribe from the current version
    * and miss nothing only if no source commits landed in between.
    */
  def cdcReplicaSink(spark: org.apache.spark.sql.SparkSession,
      sourceTable: String, replicaTable: String, key: String,
      statsCols: Seq[String], checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.sources.TxTable
    val v0 = TxTable.latestVersion(sourceTable)
    if (TxTable.latestVersion(replicaTable) == 0) {
      // Seed by ZERO-COPY CLONE (r16 optimization): the replica's seed
      // state IS the source snapshot at v0, so hard-linking its files
      // (a metadata operation carrying stats, DVs, column mapping) is
      // byte-identical to — and at 100 TB incomparably cheaper than —
      // re-writing the whole snapshot through a create(). Cross-device
      // targets (links impossible) fall back to the copying create;
      // the partially-linked tree is removed first so the fallback
      // writes into a clean root.
      // The target must be absent, empty, or hold only the debris of an
      // earlier seed that never published a version (a crash during the
      // clone or the copying fallback): nothing but the table's own
      // data/, _idx/, _dv/ and _log/ trees. Debris is removed and the
      // seed re-runs, so a re-run recovers by itself; any other content
      // (user files, a nested checkpoint dir) refuses, so neither the
      // cleanup nor the fallback can destroy it.
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(replicaTable)
      def clear(): Unit = if (java.nio.file.Files.isDirectory(root)) {
        val s = java.nio.file.Files.walk(root)
        try s.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
        finally s.close()
      }
      if (java.nio.file.Files.isDirectory(root)) {
        val s = java.nio.file.Files.list(root)
        val foreign =
          try s.iterator().asScala.map(_.getFileName.toString).filterNot(n =>
            Set("data", "_idx", "_dv", "_log").contains(n) &&
              java.nio.file.Files.isDirectory(root.resolve(n))).toList
          finally s.close()
        require(foreign.isEmpty, s"replica target $replicaTable exists and " +
          s"holds content other than an unpublished seed's debris: $foreign")
        clear()
      }
      try TxTable.cloneTable(spark, sourceTable, replicaTable, v0)
      catch {
        case scala.util.control.NonFatal(_) =>
          // everything under the root is now clone debris
          clear()
          TxTable.create(spark, replicaTable,
            TxTable.read(spark, sourceTable, version = v0), statsCols)
      }
    }
    spark.readStream.format("graft-tx").option("path", sourceTable)
      .option("readChangeFeed", "true")
      .option("startingVersion", (v0 + 1).toString)
      .load()
      .writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        TxTable.applyChanges(spark, replicaTable, batch.toDF(), key,
          statsCols, windowId = Some(id))
        ()
      }.start()
  }

  /** Streaming SCD1 upsert into a JDBC WAREHOUSE — the reference's load
    * phase (etl.py df.to_sql) as a streaming sink: each micro-batch
    * keep-latest-merges into the warehouse table through
    * [[graft.sources.JdbcSink]]. The table must exist (seed it with the
    * initial dim load); dim-scale only — the merge rereads the table
    * each batch, which is exactly what a dimension upsert costs, and
    * exactly wrong for a fact stream (facts append/partition instead).
    */
  def scd1JdbcUpsertSink(updates: DataFrame, key: String, versionCol: String,
      url: String, table: String, driver: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = updates.sparkSession
    scd1UpsertSink(updates, key, versionCol,
      load = () => graft.sources.JdbcSink.readTable(spark, url, table, driver),
      save = d => {
        // the merged plan READS the table the overwrite is about to
        // drop — and persist()+count() is NOT durable: a lost cached
        // block recomputes lazily against the already-truncated table,
        // silently emptying the dimension. localCheckpoint(eager) cuts
        // the lineage entirely, so no recompute path can reach the
        // table being overwritten.
        val m = d.localCheckpoint(eager = true)
        graft.sources.JdbcSink.loadTable(m, url, table,
          org.apache.spark.sql.SaveMode.Overwrite, driver)
        ()
      })
  }

  /** Streaming quality gate with DEAD-LETTER routing: each micro-batch
    * splits on `pred` — passing rows append to `goodPath`, failing rows
    * to `quarantinePath` — so a 100 TB ingest stream never silently
    * drops bad records and never aborts on them (the streaming
    * counterpart of ExternalIngest's PERMISSIVE quarantine). The batch
    * is persisted across the two writes: both sinks must see the SAME
    * evaluation of a micro-batch that a lazy recompute could otherwise
    * change (and the source is only read once).
    */
  def qualityRouteSink(updates: DataFrame, pred: org.apache.spark.sql.Column,
      goodPath: String, quarantinePath: String): org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream.outputMode(OutputMode.Append).foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.persist()
        // Pin the predicate to a boolean: filter(pred) AND filter(!pred)
        // both exclude NULL-evaluating rows, so routing on the raw pred
        // would silently drop exactly the malformed records a dead-letter
        // gate exists to keep. NULL ⇒ quarantine.
        val p = coalesce(pred, lit(false))
        try {
          b.filter(p).write.mode("append").parquet(goodPath)
          b.filter(!p).write.mode("append").parquet(quarantinePath)
        } finally { b.unpersist(); () }
    }.start()

  /** Streaming NEAR-dup flagging against a STATIC snapshot corpus —
    * the streaming twin of [[graft.operators.Training.crossCorpusOn]]
    * (where the stream-static ANTI join covers exact fingerprints,
    * this covers the banded-MinHash near-dup tier: an incoming crawl
    * page that paraphrases a snapshot doc flags before it enters the
    * corpus). The stream side computes the SAME scan-side codegen
    * signature/band primitives as the batch operator; candidates meet
    * the snapshot's (band, key) table in a stream-static equi-join —
    * a per-batch probe with NO stream-stream state — and survive the
    * exact signature-agreement filter. The pair-level dedup is a
    * streaming dropDuplicates keyed (new_id, snap_id): its state is
    * one row per FLAGGED pair (the operator's own output), not per
    * doc; bound it with a watermark upstream if flagged volume is
    * unbounded. Output: (new_id, snap_id, est_sim) — identical rows
    * to the batch operator on the same doc set (spec-diffed).
    */
  def nearDupFlagStream(docs: DataFrame, snapshot: DataFrame,
      minAgreement: Double): DataFrame = {
    import graft.functions.TextFns
    def sigs(df: DataFrame) = df
      .select(col("doc_id"),
        TextFns.shingleHashes(TextFns.tokenize(col("text"))).as("h"))
      .filter(size(col("h")) > 0)
      .select(col("doc_id"), TextFns.minhashSig("h").as("s"))
    def bands(sig: DataFrame, id: String) = sig
      .select(col("doc_id").as(id), col("s"),
        explode(sequence(lit(0), lit(TextFns.Bands - 1))).as("band"))
      .select(col(id), col("s"), col("band"), TextFns.bandKey("s", "band").as("bk"))
    val snapB = bands(sigs(snapshot), "snap_id")
      .select(col("snap_id"), col("s").as("sb"), col("band"), col("bk"))
      .transform(graft.util.CacheScope.cached) // static side, probed every micro-batch
    bands(sigs(docs), "new_id")
      .withColumnRenamed("s", "sa")
      .join(snapB, Seq("band", "bk"))
      .withColumn("est_sim", TextFns.sigAgreement("sa", "sb"))
      .filter(col("est_sim") >= minAgreement)
      .select(col("new_id"), col("snap_id"), col("est_sim"))
      .dropDuplicates("new_id", "snap_id")
  }

  /** Streaming decontamination gate — [[graft.operators.Training
    * .contaminationOn]] as a stream-static probe: documents arriving
    * on a stream score their 3-shingle containment against the STATIC
    * eval shingle set (broadcastable, cached — probed every
    * micro-batch) and flag at `thresholdMilli`. A doc's exploded
    * shingles all land in its own micro-batch, so the per-doc
    * update-mode aggregate completes within the batch and each doc
    * emits exactly one final row — which is what makes batch ≡ stream
    * provable and spec-diffed row-for-row against the batch check.
    * Integer milli containment (same `div` as the batch form) so the
    * comparison is exact.
    *
    * STATE LIFECYCLE: when `ingestTsCol` names an event-time column on
    * `docs`, the per-doc aggregate is keyed by (ingest window, doc) UNDER
    * a watermark, so Spark EVICTS each doc's state once the watermark
    * passes its window — unbounded streams run at constant state (the
    * doc's shingles all land in one micro-batch, so eviction never
    * drops a partial aggregate). With no `ingestTsCol` ("") the
    * aggregate is unwatermarked and per-doc state is retained for the
    * life of the query — BOUNDED-INPUT ONLY (replays, backfills).
    * Output per doc with ≥1 MATCHING shingle (a clean doc emits no
    * row — the gate only surfaces suspects; the batch form's n_hit=0
    * rows are the complement): (doc_id, n_shingles, n_hit,
    * containment_milli, contaminated).
    */
  def contaminationFlagStream(docs: DataFrame, eval: DataFrame,
      thresholdMilli: Long = 500L, ingestTsCol: String = "",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import graft.functions.TextFns
    val evalX = eval.select(
        explode(TextFns.shingleHashes(TextFns.tokenize(col("text")))).as("x"))
      .distinct()
      .transform(graft.util.CacheScope.cached) // static side, probed per batch
    val shingled = docs
      .select(col("doc_id") +: TextFns.shingleHashes(TextFns.tokenize(col("text"))).as("h") +:
        (if (ingestTsCol.nonEmpty) Seq(col(ingestTsCol)) else Nil): _*)
      .filter(size(col("h")) > 0)
      .select(col("doc_id") +: size(col("h")).cast("long").as("n_shingles") +:
        explode(col("h")).as("x") +:
        (if (ingestTsCol.nonEmpty) Seq(col(ingestTsCol)) else Nil): _*)
      .join(evalX, Seq("x"), "left_semi")
    val agged =
      if (ingestTsCol.nonEmpty)
        shingled.withWatermark(ingestTsCol, watermarkDelay)
          .groupBy(window(col(ingestTsCol), "10 minutes"),
            col("doc_id"), col("n_shingles"))
          .agg(count(lit(1)).as("n_hit"))
          .drop("window")
      else
        shingled.groupBy(col("doc_id"), col("n_shingles"))
          .agg(count(lit(1)).as("n_hit"))
    agged
      .withColumn("containment_milli", expr("(1000 * n_hit) div n_shingles"))
      .withColumn("contaminated",
        when(col("containment_milli") >= thresholdMilli, 1).otherwise(0))
  }

  /** Streaming INCREMENTAL connected components — the streaming twin
    * of the clustering stack ([[graft.operators.Dedup.clustersOn]] /
    * the community queries), specialised to the MIN-LABEL fixpoint
    * precisely because that fixpoint is CONFLUENT: the final labels
    * depend only on the SET of edges seen, not their arrival order or
    * batching, so batch ≡ stream equality is provable (and
    * spec-diffed), which a frequency-LPA streaming twin could never
    * promise.
    *
    * State is one (id, lbl) row per node ever seen — NO stored edges.
    * Each micro-batch of undirected (u, v) edges union-finds:
    *  1. look up current endpoint labels (new nodes label themselves);
    *  2. distinct cross-component (lbl_u, lbl_v) pairs form the MERGE
    *     GRAPH — bounded by the batch, not the corpus;
    *  3. close its transitive chains with the batch min-label
    *     propagation (clustersOn reused verbatim — a batch can merge
    *     A−B and B−C, so single-step min would under-merge);
    *  4. rewrite state through the old→new label map with one label
    *     equi-join — members of an absorbed component all share its
    *     label by invariant, so NO edge traversal ever re-runs.
    *
    * Scale: per batch, one |batch|-sized lookup join against state and
    * one broadcast-sized relabel map over |state| rows; the expensive
    * part of batch clustering (candidate pairs over the corpus) is
    * amortized to the arriving delta — the reason to stream at all.
    */
  def componentsUpsertSink(edges: DataFrame,
      load: () => DataFrame, save: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    edges.writeStream.outputMode(OutputMode.Append).foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
          .select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
          .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
          .persist()
        try {
          if (!b.isEmpty) {
            val st = load() // (id, lbl)
            val touched = b.select(col("u").as("id"))
              .unionByName(b.select(col("v").as("id"))).distinct()
            val touchedL = touched.join(st, Seq("id"), "left")
              .select(col("id"), coalesce(col("lbl"), col("id")).as("lbl"))
              .persist()
            val merges = b
              .join(touchedL.select(col("id").as("u"), col("lbl").as("ulbl")), Seq("u"))
              .join(touchedL.select(col("id").as("v"), col("lbl").as("vlbl")), Seq("v"))
              .select(col("ulbl").as("a_id"), col("vlbl").as("b_id"))
              .filter(col("a_id") =!= col("b_id"))
            // transitive closure of the (tiny) label-merge graph; ids
            // absent from any merge keep their label via the left join.
            // clustersPdOn (star contraction, O(log² n) rounds,
            // localCheckpoint-truncated), NOT clustersOn: a batch's
            // merge pairs can chain into a DEEP path (e.g. edges of one
            // long chain arriving in a single batch), where the
            // diameter-bound frontier iteration both exceeds its round
            // cap and drags Catalyst through an exponentially growing
            // persist-only plan (measured: a 29-diameter merge chain
            // wedged the spec for 13+ min)
            val mapping = graft.operators.Dedup.clustersPdOn(
                merges, merges.select(col("a_id").as("id"))
                  .unionByName(merges.select(col("b_id").as("id"))).distinct())
              .select(col("doc_id").as("lbl"), col("cluster_id").as("new_lbl"))
            val grown = st.join(touchedL, Seq("id"), "left_anti").unionByName(touchedL)
            val next = grown.join(broadcast(mapping), Seq("lbl"), "left")
              .select(col("id"), coalesce(col("new_lbl"), col("lbl")).as("lbl"))
            // localCheckpoint: state is re-read next batch; an
            // un-truncated lineage would re-derive batch k's state
            // through every prior batch's plan
            save(next.localCheckpoint(true))
            touchedL.unpersist()
            ()
          }
        } finally { b.unpersist(); () }
    }.start()

  /** Streaming form of [[intervalJoinBatch]]: a stream-stream inner
    * join. Watermarks on both sides plus the time-band condition let
    * the engine expire buffered state — clicks older than the watermark
    * can never match future purchases and vice versa, so state is
    * bounded by the band width.
    */
  def intervalJoinStream(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("click_ts", "30 minutes")
    val p = purchases.withWatermark("prc_ts", "1 hour")
    c.join(p, expr(
      """c_user = p_user AND
        |prc_ts >= click_ts - interval 30 minutes AND prc_ts <= click_ts""".stripMargin))
      .select(col("c_user").as("user_id"), col("click_id"), col("prc_id"))
  }

  /** LEFT OUTER stream-stream interval join: every click emits — with
    * its in-window purchases when they exist, or ONCE with a null
    * purchase after the watermark proves no match can still arrive
    * (the engine holds the click in state until purchase-side event
    * time passes its window, then emits the null row). This is the
    * attribution join a funnel report actually needs: unmatched
    * clicks ARE the signal, and an inner join silently drops them.
    * Both watermarks bound state exactly as in [[intervalJoinStream]];
    * the outer row costs no extra state, only the deferred emit.
    */
  def intervalJoinLeftStream(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("click_ts", "30 minutes")
    val p = purchases.withWatermark("prc_ts", "1 hour")
    c.join(p, expr(
      """c_user = p_user AND
        |prc_ts >= click_ts - interval 30 minutes AND prc_ts <= click_ts""".stripMargin),
      "left_outer")
      .select(col("c_user").as("user_id"), col("click_id"), col("prc_id"))
  }

  /** Watermark-lateness observability: per-trigger watermark position,
    * input volume, rows DROPPED as too late, and live state size,
    * lifted out of the query's progress reports into a queryable
    * DataFrame. This is the number an operator watches in production —
    * silent watermark drops are data loss that no output diff shows
    * (the rows simply never aggregate), and state growth is the
    * leading indicator of an OOM hours away. Driver-side by nature and
    * by size: progress reports are one small object per trigger
    * (bounded by spark.sql.streaming.numRecentProgressUpdates, default
    * 100), not data.
    */
  def latenessAudit(spark: SparkSession,
      q: org.apache.spark.sql.streaming.StreamingQuery): DataFrame = {
    import spark.implicits._
    q.recentProgress.toSeq.map { p =>
      val dropped = p.stateOperators.map(_.numRowsDroppedByWatermark).sum
      val stateRows = p.stateOperators.map(_.numRowsTotal).sum
      val wm = Option(p.eventTime.get("watermark")).getOrElse("")
      TriggerLateness(p.batchId, wm, p.numInputRows, dropped, stateRows)
    }.toDF()
  }

  /** Streaming dedup: same key as [[dedupBatch]], incremental via
    * dropDuplicatesWithinWatermark — state for a key is held only until
    * the watermark passes it (bounded state; an exact streaming dedup
    * with unbounded keys would grow forever).
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withColumn("minute_bucket", minuteBucket(col("ts")))
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "minute_bucket")
      .select(col("user_id"), col("event_type"), col("minute_bucket"))

  /** Streaming tumbling-window aggregation: same semantics as
    * [[windowAgg]], incremental with a 30-minute watermark bounding
    * state. Works on any streaming DataFrame with (ts, event_type,
    * value).
    */
  def windowAggStream(events: DataFrame): DataFrame = {
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Cols.pround(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
  }

  /** Windowed top-k (batch form): per tumbling window, the k heaviest
    * event types by count (ties → event_type asc) — the "trending now"
    * rollup every event pipeline serves. Rank windows partition on the
    * bucket key, so the sort is per-window local; counts come from the
    * same one-shuffle aggregation as [[windowAggOn]].
    * Output: (bucket, window_start, event_type, n_events, rk).
    */
  def topkBatchOn(events: DataFrame, windowMinutes: Int, k: Int): DataFrame = {
    val byBucket = Window.partitionBy(col("bucket"))
      .orderBy(col("n_events").desc, col("event_type"))
    windowAggOn(events, windowMinutes)
      .withColumn("rk", row_number().over(byBucket))
      .filter(col("rk") <= k)
      .select(col("bucket"), col("window_start"), col("event_type"),
        col("n_events"), col("rk"))
  }

  /** stream_topk testdata binding: top-3 event types per 15-minute
    * window.
    */
  def topkBatch(spark: SparkSession, sfDir: String): DataFrame =
    topkBatchOn(Tables.events(spark, sfDir), 15, 3)
      .orderBy(col("bucket"), col("rk"))

  def topkBatchSql: String =
    """WITH c AS (SELECT epoch_us(ts) // 900000000 AS bucket, event_type,
      |        count(*) AS n_events FROM events GROUP BY 1, 2),
      |r AS (SELECT bucket, event_type, n_events,
      |        row_number() OVER (PARTITION BY bucket
      |          ORDER BY n_events DESC, event_type) AS rk FROM c)
      |SELECT bucket, make_timestamp(bucket * 900000000) AS window_start,
      | event_type, n_events, CAST(rk AS INTEGER) AS rk
      |FROM r WHERE rk <= 3 ORDER BY bucket, rk""".stripMargin

  /** Streaming half of the top-k tier: UPDATE-mode windowed counts —
    * each trigger re-emits only the (window, event_type) rows whose
    * count changed, the incremental feed a serving store upserts. A
    * global rank can't stream (any count change can reorder k), so the
    * tier splits the way production top-k actually does: the engine
    * maintains counts incrementally, [[countsUpsertSink]] merges them
    * into a snapshot, and [[topkOfSnapshot]] ranks at read time.
    * Output per row: (start_us, event_type, n_events).
    */
  def topkCountsStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("window.start")).as("start_us"),
        col("event_type"), col("n_events"))

  /** foreachBatch merge of update-mode counts into a snapshot store:
    * per-key counts are monotone under update mode, so merge =
    * max(n_events) per (start_us, event_type). localCheckpoint cuts
    * the load→merge→save lineage (same read-before-overwrite hazard as
    * [[scd1UpsertSink]]).
    */
  def countsUpsertSink(counts: DataFrame,
      load: () => DataFrame, save: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    counts.writeStream.outputMode(OutputMode.Update).foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val merged = load().unionByName(batch.toDF())
          .groupBy(col("start_us"), col("event_type"))
          .agg(max(col("n_events")).as("n_events"))
        save(merged.localCheckpoint(true))
    }.start()

  /** Serving-side rank over a counts snapshot — the read half of the
    * streaming top-k tier.
    */
  def topkOfSnapshot(snapshot: DataFrame, k: Int): DataFrame =
    snapshot
      .withColumn("rk", row_number().over(Window.partitionBy(col("start_us"))
        .orderBy(col("n_events").desc, col("event_type"))))
      .filter(col("rk") <= k)

  /** Streaming twin of [[sessionNativeOn]]: the engine's own MERGING
    * session-window state (no custom state function) with a watermark
    * bounding it — sessions emit when the watermark passes their close.
    * Same output shape as the batch form, so the spec can diff them
    * row-for-row on the watermark-closed prefix.
    */
  def sessionNativeStream(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), Cols.pround(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events"), col("total_value"))

  /** Streaming gap-sessionization via flatMapGroupsWithState: a session
    * closes when a user's next event arrives >30 min later (in-batch
    * gap) or when the event-time watermark passes last_event + 30 min
    * (idle user). Event-time timeouts keep the semantics deterministic —
    * a replay yields identical sessions, which wall-clock
    * (processing-time) timeouts cannot guarantee, and they also keep the
    * micro-batch engine quiescent between arrivals. State per user is
    * O(1); state cleanup is driven by the watermark, so total state is
    * bounded by the active-user set.
    */
  def sessionizeStream(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ets", timestamp_micros(col("us")))
      .withWatermark("ets", "30 minutes")
      .as[EvT]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[EvT], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s => SessionOut(uid, s.n, s.start, s.last, s.total))
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.us, e.value))
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.us - s.last > 1800000000L =>
                  closed += SessionOut(uid, s.n, s.start, s.last, s.total)
                  cur = Some(SessState(1, e.us, e.us, e.value))
                case Some(s) =>
                  cur = Some(SessState(s.n + 1, s.start, e.us, s.total + e.value))
                case None =>
                  cur = Some(SessState(1, e.us, e.us, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last / 1000L + 30L * 60L * 1000L)
            }
            closed.result().iterator
          }
      }
  }

  /** UPDATE-mode sessionization — the intermediate-emission twin of
    * [[sessionizeStream]], for consumers that need the IN-PROGRESS
    * picture (live session dashboards, concurrent-session counters)
    * rather than only watermark-closed sessions. Spark's native
    * `session_window` aggregation supports APPEND only (the refusal is
    * spec-pinned), so update-mode emission lives where custom state
    * always has: `flatMapGroupsWithState(OutputMode.Update)`.
    *
    * Emission contract per trigger, per touched user: every session
    * CLOSED by an in-batch gap emits once with `is_final = true`
    * (end_us = its last event, the batch islands' value), and the
    * still-open session emits a snapshot with `is_final = false`
    * (end_us = last event seen so far, growing across triggers).
    * Watermark timeout finalizes an idle user's open session. Replays
    * re-emit snapshots (update mode is at-least-once per key-version);
    * the FINAL rows converge to exactly the batch gap-islands —
    * spec-pinned against [[sessionizeOn]]. State per user is O(1),
    * cleaned by the same event-time timeout as the append twin.
    */
  def sessionizeUpdateStream(events: Dataset[Ev]): Dataset[SessionUpd] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ets", timestamp_micros(col("us")))
      .withWatermark("ets", "30 minutes")
      .as[EvT]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionUpd](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[EvT], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              SessionUpd(uid, s.n, s.start, s.last, s.total, is_final = true))
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.us, e.value))
            var cur = state.getOption
            val out = Seq.newBuilder[SessionUpd]
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.us - s.last > 1800000000L =>
                  out += SessionUpd(uid, s.n, s.start, s.last, s.total, is_final = true)
                  cur = Some(SessState(1, e.us, e.us, e.value))
                case Some(s) =>
                  cur = Some(SessState(s.n + 1, s.start, e.us, s.total + e.value))
                case None =>
                  cur = Some(SessState(1, e.us, e.us, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last / 1000L + 30L * 60L * 1000L)
              out += SessionUpd(uid, s.n, s.start, s.last, s.total, is_final = false)
            }
            out.result().iterator
          }
      }
  }
}
