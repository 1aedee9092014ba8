package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Incrementally-maintained SESSIONIZATION state — the stored-state form
  * of [[Analytics.sessionize]] (which gap-splits ALL events in one pass;
  * at 100 TB the nightly job must fold the night's events into standing
  * session state instead of rescanning history), and the batch twin of
  * the streaming `session_window` aggregation.
  *
  * The state splits on the one structural fact of gap sessions under
  * time-ordered ingest: a session whose last event lies ≥ `gap` before
  * the watermark can NEVER grow again. So:
  *
  *   - `{name}_closed` — finished sessions, APPEND-ONLY, bucketed on the
  *     key (nightly cost: insert the night's closed sessions, never
  *     rewrite);
  *   - `{name}_open`  — at most one growable session per key (the only
  *     mutable slice, |keys|-bounded, rewritten via the staged
  *     [[Tables.replaceWarehouse]] swap).
  *
  * The nightly merge kernel is Spark's native `session_window` itself:
  * each open session re-enters as ONE pseudo-event at its `last_ts`
  * carrying (session_start, n_events, value_fp) payload, unioned with
  * the night's events — the window merges them under the same gap rule,
  * and `min(coalesce(payload_start, ts))` recovers the true start. One
  * key shuffle over (batch ∪ open slice); closed history never read for
  * data (only probed by the replay anti-join guard).
  *
  * Contract (same as [[ScdState]]): batches arrive in nondecreasing
  * time order — every event of batch i+1 is ≥ batch i's max ts. Under
  * that contract chain-of-appends ≡ one-pass sessionization, bit for
  * bit, at ANY batch split (the declared query's oracle IS the one-pass
  * derivation). Crash between the two phases: re-running the night
  * converges (closed rows re-derive identically and the (key,
  * session_start) anti-join drops duplicates; the open replacement
  * recomputes identically). A FULL re-run of a completed batch is NOT
  * inert — the streaming twin
  * ([[graft.streaming.StreamingIngest.sessionBatch]]) adds the
  * marker-file phase ledger ([[graft.io.PhaseLedger]]) that
  * short-circuits replays.
  */
object SessionState {

  private def closedName(name: String) = s"${name}_closed"
  private def openPath(name: String) = s"${name}_open"

  private val OutCols =
    Seq("session_start", "session_end", "n_events", "value_fp")

  /** Gap-split one relation of (key, ts, payload) rows with native
    * session windows; payload columns recover true starts/counts when
    * open-session pseudo-events participate.
    */
  private def fold(df: DataFrame, keyCol: String, tsCol: String,
      gap: String): DataFrame =
    df.groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(
        min(coalesce(col("__ps"), col(tsCol))).as("session_start"),
        max(col(tsCol)).as("last_ts"),
        sum(col("__pn")).as("n_events"),
        sum(col("__pv")).as("value_fp"))
      .select(col(keyCol), col("session_start"),
        col("session_window.end").as("session_end"), col("last_ts"),
        col("n_events"), col("value_fp"))

  private def eventsShaped(batch: DataFrame, keyCol: String, tsCol: String,
      valueFp: Column): DataFrame =
    batch.select(col(keyCol), col(tsCol).cast("timestamp").as(tsCol),
      lit(null).cast("timestamp").as("__ps"),
      lit(1L).as("__pn"), valueFp.cast("long").as("__pv"))

  /** Seed state from the first batch (one fold, watermark split).
    * Resets the streaming twin's phase ledger ([[graft.io.PhaseLedger]])
    * first, so re-seeded state never inherits an earlier run's marks.
    */
  def createStored(spark: SparkSession, warehouseDir: String, name: String,
      batch: DataFrame, keyCol: String, tsCol: String, valueFp: Column,
      gap: String, numBuckets: Int): Unit = {
    graft.io.PhaseLedger.reset(spark, warehouseDir, name)
    val sessions = fold(eventsShaped(batch, keyCol, tsCol, valueFp),
      keyCol, tsCol, gap).localCheckpoint(true)
    val wm = sessions.agg(max("last_ts")).head().getTimestamp(0)
    val isClosed = closePredicate(wm, gap)
    Tables.writeWarehouseBucketed(
      sessions.filter(isClosed).select(col(keyCol) +: OutCols.map(col): _*),
      warehouseDir, closedName(name), keyCol, numBuckets)
    Tables.writeWarehouse(sessions.filter(!isClosed), warehouseDir,
      openPath(name))
  }

  /** A session is closed once the watermark is ≥ gap past its last
    * event: under time-ordered ingest no future event can merge into it
    * (anything later starts ≥ wm, and wm − last_ts ≥ gap starts a new
    * window). Mirrors `session_window`'s `diff >= gap ⇒ new session`
    * rule exactly.
    */
  private def closePredicate(wm: java.sql.Timestamp, gap: String): Column =
    col("last_ts") + expr(s"INTERVAL $gap") <= lit(wm)

  /** Nightly fold. Phase 1 appends the night's newly-CLOSED sessions to
    * the bucketed history (idempotent while `_open` is pre-batch: the
    * (key, session_start) anti-join drops re-derived rows); phase 2
    * replaces the |keys|-bounded open slice via the staged swap. An
    * empty batch still advances nothing (watermark derives from event
    * times), so it short-circuits.
    */
  def appendStored(spark: SparkSession, warehouseDir: String, name: String,
      batch: DataFrame, keyCol: String, tsCol: String, valueFp: Column,
      gap: String): Unit = {
    if (batch.isEmpty) return
    val sessions = mergedSessions(spark, warehouseDir, name, batch, keyCol,
      tsCol, valueFp, gap).localCheckpoint(true)
    // wm = max event time seen (the open slice's last_ts can't exceed the
    // batch max under the time-ordered contract, so this IS the batch max)
    val wm = sessions.agg(max("last_ts")).head().getTimestamp(0)
    appendClosedPhase(spark, warehouseDir, name, sessions, keyCol, wm, gap)
    replaceOpenPhase(spark, warehouseDir, name, sessions, wm, gap)
  }

  /** (open-as-pseudo-events ∪ batch) under one session_window fold —
    * untouched keys' open sessions flow through unchanged (their pseudo
    * event is their only row) and stay eligible for watermark closing.
    */
  private[graft] def mergedSessions(spark: SparkSession, warehouseDir: String,
      name: String, batch: DataFrame, keyCol: String, tsCol: String,
      valueFp: Column, gap: String): DataFrame = {
    Tables.recoverWarehouseSwap(spark, warehouseDir, openPath(name))
    val open = Tables.readWarehouse(spark, warehouseDir, openPath(name))
    val pseudo = open.select(col(keyCol), col("last_ts").as(tsCol),
      col("session_start").as("__ps"), col("n_events").as("__pn"),
      col("value_fp").as("__pv"))
    fold(pseudo.unionByName(eventsShaped(batch, keyCol, tsCol, valueFp)),
      keyCol, tsCol, gap)
  }

  private[graft] def appendClosedPhase(spark: SparkSession,
      warehouseDir: String, name: String, sessions: DataFrame,
      keyCol: String, wm: java.sql.Timestamp, gap: String): Unit = {
    val hist = Tables.readWarehouseBucketed(spark, closedName(name))
    val closed = sessions.filter(closePredicate(wm, gap))
      .join(hist.select(col(keyCol), col("session_start")),
        Seq(keyCol, "session_start"), "left_anti")
      .selectExpr(hist.columns.map(c => s"`$c`"): _*)
      .localCheckpoint(true)
    if (!closed.isEmpty)
      closed.write.mode("append").insertInto(closedName(name))
  }

  private[graft] def replaceOpenPhase(spark: SparkSession,
      warehouseDir: String, name: String, sessions: DataFrame,
      wm: java.sql.Timestamp, gap: String): Unit =
    Tables.replaceWarehouse(spark, warehouseDir, openPath(name),
      sessions.filter(!closePredicate(wm, gap)))

  /** The full session view: closed history ∪ still-open sessions —
    * identical to [[Analytics.sessionize]]-style one-pass output over
    * everything ingested (chain ≡ derivation IS the declared query's
    * oracle check). Rolls an interrupted open-slice swap forward first.
    */
  def readStored(spark: SparkSession, warehouseDir: String,
      name: String, keyCol: String): DataFrame = {
    Tables.recoverWarehouseSwap(spark, warehouseDir, openPath(name))
    val cols = (keyCol +: OutCols).map(col)
    Tables.readWarehouseBucketed(spark, closedName(name)).select(cols: _*)
      .unionByName(
        Tables.readWarehouse(spark, warehouseDir, openPath(name))
          .select(cols: _*))
  }
}
