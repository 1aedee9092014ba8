package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Merge, SchemaGuard}
import graft.io.Tables

/** Incrementally-maintained SCD TYPE-2 dimension state — the stored-state
  * form of [[graft.core.Merge.scdHistory]] (which derives the full
  * validity history from ALL versions in one pass; at 100 TB the nightly
  * job must instead fold the night's versions into standing state).
  *
  * The state splits on the one structural fact of SCD2: a CLOSED version
  * never changes again. So:
  *
  *   - `{name}_hist` — closed versions, APPEND-ONLY, bucketed on the key
  *     (nightly cost: insert the night's closed rows, never rewrite);
  *   - `{name}_cur`  — the current row per key (the only mutable slice),
  *     rewritten via read-modify-write with checkpoint isolation, exactly
  *     the [[IncrementalAgg.appendStored]] pattern. At key cardinalities
  *     where even this slice is too big to rewrite, it is the shape
  *     [[graft.io.ManifestVersioned.mergeVersioned]] exists for — keep
  *     `_cur` as a partitioned manifest table and let the night rewrite
  *     only touched partitions.
  *
  * A nightly batch may carry SEVERAL versions of a key: the batch's own
  * chain closes internally ([[graft.core.Merge.scdHistory]] on the batch),
  * its first version closes the stored current row (valid_to = the
  * incoming valid_from), and its last version becomes the new current.
  *
  * Contract (standard SCD2): versions arrive in nondecreasing version
  * order per key across nights — late data needs a history rebuild for
  * the affected keys (`ScdStateSpec` documents the failure shape).
  * Under that contract, chain-of-appends ≡ scdHistory over the union of
  * all batches, bit for bit (`q_scd_stored`'s oracle IS the from-scratch
  * derivation).
  */
object ScdState {

  private def histName(name: String) = s"${name}_hist"
  private def curPath(name: String) = s"${name}_cur"

  /** Seed state from the first batch. Resets the streaming twin's phase
    * ledger ([[graft.io.PhaseLedger]]) first, so re-seeded state never
    * inherits an earlier run's applied-batch marks.
    */
  def createStored(spark: SparkSession, warehouseDir: String, name: String,
      batch: DataFrame, keyCol: String, versionCol: String, tiebreak: Column,
      numBuckets: Int): Unit = {
    graft.io.PhaseLedger.reset(spark, warehouseDir, name)
    val b = Merge.scdHistory(batch, Seq(keyCol), versionCol, tiebreak)
    Tables.writeWarehouseBucketed(b.filter(!col("is_current")),
      warehouseDir, histName(name), keyCol, numBuckets)
    Tables.writeWarehouse(b.filter(col("is_current")),
      warehouseDir, curPath(name))
  }

  /** Nightly fold: close out superseded versions (stored current rows of
    * re-arriving keys + the batch's own internal chain), append them to
    * the history, replace the current slice. One key-shuffle over the
    * batch + one over the |keys|-bounded current slice; the closed
    * history is never read for data (only probed for the replay guard),
    * let alone rewritten.
    *
    * Durability + replay: the two phases are each idempotent while the
    * batch is incomplete — the history append drops rows already present
    * (a closed version is unique per (key, valid_from) under the
    * version-order contract), and the current-slice replacement
    * recomputes identically whether the previous attempt got to the swap
    * or not — so a crashed append can simply be re-run. The current
    * slice swaps via [[Tables.replaceWarehouse]] (the replacement is on
    * disk before the old slice is touched). Re-running a COMPLETED batch
    * is NOT inert (the then-current rows would be re-closed at the
    * batch's first version) — the streaming twin
    * ([[graft.streaming.StreamingIngest.scdBatch]]) adds the marker-file
    * phase ledger ([[graft.io.PhaseLedger]]) that makes full replays
    * no-ops.
    *
    * `align=false` rejects schema-drifted batches at the gate
    * ([[graft.core.SchemaGuard]]); `align=true` coerces to the stored
    * schema instead.
    */
  def appendStored(spark: SparkSession, warehouseDir: String, name: String,
      batch: DataFrame, keyCol: String, versionCol: String,
      tiebreak: Column, align: Boolean = false): Unit = {
    val b = conformed(spark, warehouseDir, name, batch, align)
    appendClosedPhase(spark, warehouseDir, name, b, keyCol, versionCol, tiebreak)
    replaceCurPhase(spark, warehouseDir, name, b, keyCol, versionCol, tiebreak)
  }

  /** Drift-guard the batch against the stored schema (the current slice
    * minus the SCD bookkeeping columns) and recover any interrupted
    * current-slice swap so both phases see a live `_cur`.
    */
  private[graft] def conformed(spark: SparkSession, warehouseDir: String,
      name: String, batch: DataFrame, align: Boolean): DataFrame = {
    Tables.recoverWarehouseSwap(spark, warehouseDir, curPath(name))
    val cur = Tables.readWarehouse(spark, warehouseDir, curPath(name))
    val expected = org.apache.spark.sql.types.StructType(
      cur.schema.fields.filterNot(f => ScdCols.contains(f.name)))
    SchemaGuard.conform(expected, batch, align, s"$name (SCD2 state)")
  }

  private val ScdCols = Set("valid_from", "valid_to", "is_current")

  /** Phase 1 — append the batch's closed versions (its own internal
    * chain + the stored current rows it supersedes) to the history.
    * Idempotent while `_cur` is pre-batch: re-derived rows already in
    * the history are dropped by the (key, valid_from) anti-join probe
    * (column-pruned, co-located on the history's key buckets).
    */
  private[graft] def appendClosedPhase(spark: SparkSession, warehouseDir: String,
      name: String, batch: DataFrame, keyCol: String, versionCol: String,
      tiebreak: Column): Unit = {
    val b = Merge.scdHistory(batch, Seq(keyCol), versionCol, tiebreak)
    val cur = Tables.readWarehouse(spark, warehouseDir, curPath(name))
    val firstNew = batch.groupBy(col(keyCol))
      .agg(min(col(versionCol)).as("__first_vf"))
    val oldClosed = cur.drop("valid_to", "is_current")
      .join(firstNew, keyCol)
      .withColumn("valid_to", col("__first_vf"))
      .withColumn("is_current", lit(false))
      .drop("__first_vf")
    val hist = Tables.readWarehouseBucketed(spark, histName(name))
    val closed = b.filter(!col("is_current"))
      .unionByName(oldClosed)
      .join(hist.select(col(keyCol), col("valid_from")),
        Seq(keyCol, "valid_from"), "left_anti")
      // re-project AFTER the using-column join (it fronts the join keys;
      // the insertInto below is positional)
      .selectExpr(hist.columns.map(c => s"`$c`"): _*)
      .localCheckpoint(true)
    if (!closed.isEmpty)
      closed.write.mode("append").insertInto(histName(name))
  }

  /** Phase 2 — replace the current slice: untouched keys keep their row,
    * re-arrived keys take the batch's last version. Idempotent whether
    * `_cur` is pre- or post-swap (the anti-join removes every batch key
    * either way, and the batch re-contributes its own current rows);
    * durable via the staged [[Tables.replaceWarehouse]] swap.
    */
  private[graft] def replaceCurPhase(spark: SparkSession, warehouseDir: String,
      name: String, batch: DataFrame, keyCol: String, versionCol: String,
      tiebreak: Column): Unit = {
    val b = Merge.scdHistory(batch, Seq(keyCol), versionCol, tiebreak)
    val cur = Tables.readWarehouse(spark, warehouseDir, curPath(name))
    val firstNew = batch.groupBy(col(keyCol))
      .agg(min(col(versionCol)).as("__first_vf"))
    val nextCur = cur
      .join(firstNew.select(keyCol), Seq(keyCol), "left_anti")
      .unionByName(b.filter(col("is_current")))
    Tables.replaceWarehouse(spark, warehouseDir, curPath(name), nextCur)
  }

  /** The full SCD2 view: closed history ∪ current rows. Rolls an
    * interrupted current-slice swap forward first, so a reader after a
    * crash always sees a complete slice.
    */
  def readStored(spark: SparkSession, warehouseDir: String, name: String): DataFrame = {
    Tables.recoverWarehouseSwap(spark, warehouseDir, curPath(name))
    val hist = Tables.readWarehouseBucketed(spark, histName(name))
    Tables.readWarehouse(spark, warehouseDir, curPath(name))
      .selectExpr(hist.columns.map(c => s"`$c`"): _*)
      .unionByName(hist)
  }

  /** POINT-IN-TIME enrichment: join each fact to the dimension version
    * that was valid AT the fact's own timestamp — the lookup an SCD2
    * history exists to answer (enriching training events with the
    * feature values as they stood when the event happened, not as they
    * stand today: the standard leakage guard).
    *
    * `dim` is any SCD2 view ([[readStored]] or
    * [[graft.core.Merge.scdHistory]] output): key + payload +
    * `valid_from`/`valid_to` (`valid_to` null on current rows = open
    * interval). Facts match on `valid_from <= ts < valid_to` — at most
    * ONE version per fact by the SCD2 invariant (intervals partition
    * the key's timeline), so the join never fans out.
    *
    * Scale shape: an EQUI-join on the key carries all the weight — the
    * validity range is a residual predicate evaluated per key-match,
    * and a key's match set is its version count (dimension churn, not
    * corpus size), so the residual is O(versions) per fact.
    * Catalyst plans it as a plain hash/sort-merge join on the key:
    * broadcast when the dimension is small, co-located shuffle
    * otherwise — never the interval-overlap cross product a naive
    * range-only join would plan. Facts with a null timestamp match
    * nothing (3VL), like every warehouse point-in-time lookup.
    */
  /** Dimension SNAPSHOT as of one instant: the [valid_from, valid_to)
    * slice holding `at` — "the customer table exactly as it stood last
    * quarter-end", reconstructed from the same history
    * [[pointInTime]] probes per-fact. One row per key that existed at
    * `at` (the SCD2 intervals partition each key's timeline). A pure
    * row filter: at scale the history is range-clustered on
    * `valid_from` ([[graft.io.Tables]]' clustered layout), so parquet
    * min/max footer stats skip files entirely outside the instant.
    */
  def snapshot(dim: DataFrame, at: Column): DataFrame =
    dim.filter(col("valid_from") <= at &&
      (col("valid_to").isNull || at < col("valid_to")))

  def pointInTime(dim: DataFrame, facts: DataFrame, keyCol: String,
      tsCol: String): DataFrame = {
    val d = dim.alias("__dim")
    val f = facts.alias("__fact")
    val ts = col(s"__fact.$tsCol")
    f.join(d,
      col(s"__fact.$keyCol") === col(s"__dim.$keyCol") &&
        ts >= col("__dim.valid_from") &&
        (col("__dim.valid_to").isNull || ts < col("__dim.valid_to")))
      .drop(col(s"__dim.$keyCol"))
  }
}
