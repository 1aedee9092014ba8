package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Incremental aggregate maintenance — the materialized-view half of the
  * reference's nightly shape. The reference recomputes everything it
  * serves from full table scans each night; at 100 TB the standing
  * aggregates a warehouse actually serves (per-segment counts/sums/
  * min/max) must be MAINTAINED: aggregate the night's batch alone,
  * combine with the stored per-group state, write the state back.
  * Nightly cost is O(batch + |groups|), zero corpus re-scans — the same
  * decomposable-aggregate (partial/merge) contract Spark's own
  * hash-aggregate uses across partitions, lifted across RUNS.
  *
  * Sums are carried as FIXED-POINT longs (caller supplies the scaled
  * column, e.g. `floor(value * 100)::bigint` for cents): long addition
  * is associative-commutative, so state after any batch order is
  * bit-identical to a from-scratch aggregate — double sums would drift
  * by accumulation order and could never hash-verify. count/min/max
  * are order-invariant as-is.
  */
object IncrementalAgg {

  /** One batch's partial-aggregate state: (groups, cnt, sum_fp, min_fp,
    * max_fp). Decomposable by construction — [[combine]] merges any two.
    */
  def partials(batch: DataFrame, groupCols: Seq[String], valueFp: Column): DataFrame =
    batch.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("cnt"),
      sum(valueFp).as("sum_fp"),
      min(valueFp).as("min_fp"),
      max(valueFp).as("max_fp"))

  /** Merge two state relations. Shuffles |state| + |delta| rows — both
    * are |groups|-bounded, metadata-scale next to the corpus.
    */
  def combine(state: DataFrame, delta: DataFrame, groupCols: Seq[String]): DataFrame =
    state.unionByName(delta).groupBy(groupCols.map(col): _*).agg(
      sum("cnt").as("cnt"),
      sum("sum_fp").as("sum_fp"),
      min("min_fp").as("min_fp"),
      max("max_fp").as("max_fp"))

  /** Seed the stored state from the first batch. */
  def createStored(warehouseDir: String, name: String, batch: DataFrame,
      groupCols: Seq[String], valueFp: Column): Unit =
    Tables.writeWarehouse(partials(batch, groupCols, valueFp), warehouseDir, name)

  /** Nightly maintenance: aggregate ONLY the batch, merge with stored
    * state, write back through the staged [[Tables.replaceWarehouse]]
    * swap (the merged copy is fully on disk before the old state is
    * touched — an in-place overwrite of the files the plan reads would
    * make executor memory the only copy mid-write). The batch is the
    * only non-metadata input scanned.
    */
  def appendStored(spark: SparkSession, warehouseDir: String, name: String,
      batch: DataFrame, groupCols: Seq[String], valueFp: Column): Unit = {
    Tables.recoverWarehouseSwap(spark, warehouseDir, name)
    val state = Tables.readWarehouse(spark, warehouseDir, name)
    val next = combine(state, partials(batch, groupCols, valueFp), groupCols)
    Tables.replaceWarehouse(spark, warehouseDir, name, next)
  }

  def readStored(spark: SparkSession, warehouseDir: String, name: String): DataFrame = {
    Tables.recoverWarehouseSwap(spark, warehouseDir, name)
    Tables.readWarehouse(spark, warehouseDir, name)
  }

  // ------------------------------------------------------------------
  // LOG-STRUCTURED delta layout (the streaming-ingest form)
  // ------------------------------------------------------------------

  /** Seed the DELTA-layout state: per-batch partial rows live under an
    * `_ingest_batch=<tag>` partition and the serving value is the
    * [[combine]]-fold at read. Unlike the read-modify-write
    * [[appendStored]], appends here never read existing state (pure
    * partition write), and a REPLAYED batch tag REPLACES its own
    * partition via dynamic overwrite instead of double-counting — the
    * exactly-once contract `foreachBatch`'s at-least-once replay needs
    * ([[appendDeltaPartition]] per micro-batch under
    * [[graft.streaming.StreamingIngest.sinkInto]]). Same fixed-point
    * determinism contract as the compact layout.
    */
  def writeDeltaState(warehouseDir: String, name: String, batch: DataFrame,
      groupCols: Seq[String], valueFp: Column, batchTag: String): Unit =
    Tables.writeWarehousePartitioned(
      partials(batch, groupCols, valueFp).withColumn("_ingest_batch", lit(batchTag)),
      warehouseDir, name, Seq("_ingest_batch"))

  /** Append one batch's partials under its tag (replay-idempotent: the
    * tag's partition is replaced, not appended — idempotence from the
    * storage layout itself, no ledger relation). Bootstrap with
    * [[writeDeltaState]] (seed tag) before the first run; compact with
    * [[compactDeltaState]] between runs only (see its maintenance-window
    * contract).
    */
  def appendDeltaPartition(warehouseDir: String, name: String, batch: DataFrame,
      groupCols: Seq[String], valueFp: Column, batchTag: String): Unit =
    writeDeltaState(warehouseDir, name, batch, groupCols, valueFp, batchTag)

  /** Serving read: fold every batch partition with [[combine]]'s merge
    * law (all inputs are |groups|-bounded partial rows — metadata-scale).
    */
  def readDeltaState(spark: SparkSession, warehouseDir: String, name: String,
      groupCols: Seq[String]): DataFrame = {
    Tables.recoverWarehouseSwap(spark, warehouseDir, name)
    val raw = Tables.readWarehouse(spark, warehouseDir, name)
      .drop("_ingest_batch")
    raw.groupBy(groupCols.map(col): _*).agg(
      sum("cnt").cast("long").as("cnt"),
      sum("sum_fp").cast("long").as("sum_fp"),
      min("min_fp").as("min_fp"),
      max("max_fp").as("max_fp"))
  }

  // ------------------------------------------------------------------
  // RETRACTABLE delta layout (counted completion, the aggregate twin of
  // IncrementalJoin's counted state)
  // ------------------------------------------------------------------

  /** One batch's SIGNED partial state: groups → (cnt = Σmult,
    * sum_fp = Σ mult·value). Deliberately EXCLUDES min/max — extrema are
    * not retractable (deleting the current minimum requires re-scanning
    * the group's surviving rows; the textbook incremental-view-
    * maintenance limitation). A pipeline needing retractable extrema
    * keeps full rows (the counted join) or re-derives affected groups.
    */
  def retractablePartials(batch: DataFrame, groupCols: Seq[String],
      valueFp: Column, mult: Column): DataFrame =
    batch.groupBy(groupCols.map(col): _*).agg(
      sum(mult).cast("long").as("cnt"),
      sum(mult * valueFp).cast("long").as("sum_fp"))

  /** Seed the retractable state (first batch, all insertions). */
  def createRetractable(warehouseDir: String, name: String, batch: DataFrame,
      groupCols: Seq[String], valueFp: Column): Unit = {
    val spark = batch.sparkSession
    val base = new org.apache.hadoop.fs.Path(s"$warehouseDir/$name")
    base.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(base, true)
    Tables.writeWarehousePartitioned(
      retractablePartials(batch, groupCols, valueFp, lit(1L))
        .withColumn("_ingest_batch", lit("base")),
      warehouseDir, name, Seq("_ingest_batch"))
  }

  /** Append one SIGNED batch (`mult` = +1 for inserts, −1 for deletes —
    * a night mixing both passes a signed column). Same exactly-once
    * contract as [[appendDeltaPartition]]: the batch's partial rows land
    * in their own `_ingest_batch` partition via dynamic overwrite, so an
    * at-least-once replay REPLACES its partition instead of
    * double-counting (no ledger needed). Deletes must match accumulated
    * insertions one-for-one (the CDC invariant); net-negative groups are
    * clamped out at read.
    */
  def appendRetractable(warehouseDir: String, name: String, batch: DataFrame,
      groupCols: Seq[String], valueFp: Column, mult: Column,
      batchTag: String): Unit =
    Tables.writeWarehousePartitioned(
      retractablePartials(batch, groupCols, valueFp, mult)
        .withColumn("_ingest_batch", lit(batchTag)),
      warehouseDir, name, Seq("_ingest_batch"))

  /** Serving read: per-group sum of the signed contributions; groups
    * whose every row was retracted (cnt = 0) vanish, exactly like the
    * from-scratch aggregate over the surviving rows (the declared
    * query's oracle IS that aggregate). All inputs |groups|-bounded.
    */
  def readRetractable(spark: SparkSession, warehouseDir: String, name: String,
      groupCols: Seq[String]): DataFrame = {
    Tables.recoverWarehouseSwap(spark, warehouseDir, name)
    Tables.readWarehouse(spark, warehouseDir, name)
      .drop("_ingest_batch")
      .groupBy(groupCols.map(col): _*).agg(
        sum("cnt").cast("long").as("cnt"),
        sum("sum_fp").cast("long").as("sum_fp"))
      .filter(col("cnt") > 0)
  }

  /** TIME-TRAVEL read: the aggregate AS OF a historical ingest point,
    * reconstructed by folding ONLY the named batch partitions (the
    * caller lists every tag up to and including the as-of point —
    * normally `"base" +: tags.take(i)` from its own ingest log). The
    * per-batch partition layout makes this an `_ingest_batch`
    * PartitionFilters-pruned read: batches after the cutoff are never
    * opened, so asking for last Tuesday's numbers costs exactly last
    * Tuesday's state bytes. Deletes land as signed batches, so an as-of
    * read BEFORE a delete batch resurrects the deleted groups — the
    * point of keeping provenance. Unavailable after
    * [[compactRetractable]] (compaction collapses the provenance this
    * read prunes on; compact only history older than the retention
    * horizon).
    */
  def readRetractableAsOf(spark: SparkSession, warehouseDir: String,
      name: String, groupCols: Seq[String], batches: Seq[String]): DataFrame = {
    Tables.recoverWarehouseSwap(spark, warehouseDir, name)
    Tables.readWarehouse(spark, warehouseDir, name)
      .filter(col("_ingest_batch").isin(batches: _*))
      .drop("_ingest_batch")
      .groupBy(groupCols.map(col): _*).agg(
        sum("cnt").cast("long").as("cnt"),
        sum("sum_fp").cast("long").as("sum_fp"))
      .filter(col("cnt") > 0)
  }

  /** Fold the signed partitions to one `compacted` partition (cancelled
    * groups dropped). Same maintenance-window contract and durable
    * staged swap as [[compactDeltaState]]. Forfeits [[readRetractableAsOf]]
    * over the folded range.
    */
  def compactRetractable(spark: SparkSession, warehouseDir: String,
      name: String, groupCols: Seq[String]): Unit = {
    val folded = readRetractable(spark, warehouseDir, name, groupCols)
      .withColumn("_ingest_batch", lit("compacted"))
    Tables.replaceWarehouse(spark, warehouseDir, name, folded,
      Seq("_ingest_batch"))
  }

  /** Fold the accumulated batch partitions into one `compacted` partition
    * (bounding read-time fan-in). Run ONLY between stream runs after a
    * clean shutdown: a committed micro-batch never replays, but an
    * IN-FLIGHT batch folded away mid-run would be re-applied as a fresh
    * partition on recovery and double-count. (The LM delta state keeps a
    * separate applied-ledger to drop that restriction; here the
    * maintenance-window contract keeps the state to one relation.)
    *
    * Durability: the folded copy goes through the staged
    * [[Tables.replaceWarehouse]] swap — fully on disk beside the live
    * state before the live directory is touched (an in-place
    * delete-then-rewrite from a localCheckpoint briefly made executor
    * memory the ONLY copy of the aggregate state); an interrupted swap
    * rolls forward via [[Tables.recoverWarehouseSwap]] (which
    * [[readDeltaState]] invokes).
    */
  def compactDeltaState(spark: SparkSession, warehouseDir: String, name: String,
      groupCols: Seq[String]): Unit = {
    val folded = readDeltaState(spark, warehouseDir, name, groupCols)
      .withColumn("_ingest_batch", lit("compacted"))
    Tables.replaceWarehouse(spark, warehouseDir, name, folded,
      Seq("_ingest_batch"))
  }

  // ------------------------------------------------------------------
  // Manifest change-feed composition (CDC subscription → view refresh)
  // ------------------------------------------------------------------

  /** A manifest change-feed slice
    * ([[graft.io.ManifestVersioned.readChanges]]) as SIGNED rows under
    * the BASE table's column names: insert → +1 carrying the `new_`
    * values, delete → −1 carrying the `old_`, update → both (so a
    * group-moving update retracts from the old group and contributes
    * to the new one). The key column rides bare in the feed and passes
    * through unprefixed. Consecutive version pairs TELESCOPE: each
    * pair's `old_` side equals the previous pair's `new_`, so the
    * summed contributions equal final-state minus initial-state no
    * matter how much intermediate churn the span carries.
    */
  def signedFromFeed(feed: DataFrame, keyCol: String,
      cols: Seq[String]): DataFrame = {
    def side(prefix: String) = cols.map(c =>
      (if (c == keyCol) col(c) else col(s"${prefix}_$c")).as(c))
    feed.filter(col("change_type").isin("insert", "update"))
      .select(side("new") :+ lit(1L).as("mult"): _*)
      .unionAll(feed.filter(col("change_type").isin("delete", "update"))
        .select(side("old") :+ lit(-1L).as("mult"): _*))
  }

  /** Maintain a RETRACTABLE aggregate view of a MANIFEST-versioned
    * table from its change feed — what turns the sink side's
    * O(changes) nightly merge into an O(changes) SERVING story: the
    * first sync seeds the view from the snapshot (one full pass, ever),
    * every later sync reads ONLY the feed slice (appliedV, head] —
    * partition-pruned off the manifest pair, untouched partitions
    * contribute zero IO — and appends ONE signed batch.
    *
    * Exactly-once without a ledger: the applied high-water mark IS the
    * max `mv<v>` batch tag in the state dir, and a replayed sync
    * overwrites its own tag's partition (partition-replace, the house
    * replay argument); a sync finding nothing new is a no-op.
    *
    * `valueCols` are the base columns `valueFp` reads (they must ride
    * the feed); serve with [[readRetractable]], whose cnt/sum equal
    * the from-scratch aggregate over the CURRENT snapshot (extrema are
    * not retractable — [[retractablePartials]]).
    *
    * @return the manifest version the view now reflects
    */
  def syncRetractableFromManifest(spark: SparkSession, warehouseDir: String,
      table: String, viewName: String, keyCol: String,
      groupCols: Seq[String], valueCols: Seq[String],
      valueFp: Column): Int = {
    import graft.io.ManifestVersioned
    val head = ManifestVersioned.currentVersion(spark, warehouseDir, table)
      .getOrElse(throw new java.util.NoSuchElementException(
        s"$table has no committed version to sync from"))
    val base = new org.apache.hadoop.fs.Path(s"$warehouseDir/$viewName")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val applied: Option[Int] =
      if (!fs.exists(base)) None
      else {
        Tables.recoverWarehouseSwap(spark, warehouseDir, viewName)
        val tags = Tables.readWarehouse(spark, warehouseDir, viewName)
          .select("_ingest_batch").distinct().collect()
          .map(_.getString(0))
          .collect { case t if t.matches("mv\\d+") => t.drop(2).toInt }
        if (tags.isEmpty) throw new IllegalStateException(
          s"$viewName exists but carries no mv<v> tags — not a " +
            "manifest-synced view (seed a fresh name)")
        Some(tags.max)
      }
    applied match {
      case None =>
        appendRetractable(warehouseDir, viewName,
          ManifestVersioned.read(spark, warehouseDir, table, Some(head)),
          groupCols, valueFp, lit(1L), s"mv$head")
        head
      case Some(hw) if hw >= head => hw
      case Some(hw) =>
        val feed = ManifestVersioned.readChangesSince(spark, warehouseDir,
          table, hw, keyCol, toV = Some(head))
        appendRetractable(warehouseDir, viewName,
          signedFromFeed(feed, keyCol, (groupCols ++ valueCols).distinct),
          groupCols, valueFp, col("mult"), s"mv$head")
        head
    }
  }
}
