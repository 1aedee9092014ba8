package graft.core

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.io.Tables

/** End-to-end pipeline orchestration (SURVEY.md §2.11 C1-C4, §3).
  *
  * Reproduces the reference driver (`incremental_etl_v1.py`): discover source
  * folders, dispatch each to a full load (first sight) or an incremental merge
  * (watermark hit), isolate per-table failures, and commit the watermark state
  * only after all folders processed.
  */
object Pipeline {

  /** The bc2adls tombstone marker (`incremental_etl_v1.py:154-160`): a delete
    * row has NULL create/modify times and the all-zeros GUID in both by-columns.
    */
  val ZeroGuid = "{00000000-0000-0000-0000-000000000000}"

  def bc2adlsTombstone: Column =
    col("systemcreatedat").isNull && col("systemcreatedby") === ZeroGuid &&
      col("systemmodifiedat").isNull && col("systemmodifiedby") === ZeroGuid

  /** Deterministic latest-wins order: version desc, then the unique business key
    * as tiebreaker (the reference's bare `systemmodifiedat DESC` is
    * nondeterministic under ties — SURVEY.md §2.12).
    */
  def latestOrder: Seq[Column] =
    Seq(col("systemmodifiedat").desc_nulls_last, col("systemid").desc)

  /** How a night's batch reaches the warehouse.
    *
    *  - [[OverwriteMode]] (default): the reference's own contract —
    *    read the table, merge the batch in, REPLACE the whole table
    *    (`incremental_etl_v1.py:187`). Runs on every substrate, but
    *    full-table write amplification is the reference's documented
    *    scale ceiling: night N rewrites all N nights of data.
    *  - [[MergeMode]]: route the change batch through the substrate's
    *    keyed merge ([[graft.io.MergeCapableWarehouse]]) — only the
    *    partitions holding changed keys are read or rewritten.
    *    Requires a merge-capable adapter (the manifest substrate);
    *    semantics are bit-identical to OverwriteMode by spec. The
    *    manifest substrate hashes keys into 8 buckets, declared on
    *    first sight as the generated shard column `keybucket(8, key)`;
    *    a batch scattered over the key space touches every one of the
    *    8, so such a night still rewrites the table, now in one pass:
    *    the change is read once, the touched buckets come off its own
    *    rows, one shuffle merges them, and each bucket is written as
    *    one file. Only a batch clustered on few buckets commits
    *    O(batch).
    */
  sealed trait LoadMode
  case object OverwriteMode extends LoadMode
  case object MergeMode extends LoadMode

  /** `adapter` is the warehouse substrate ([[graft.io.WarehouseAdapter]]
    * — the reference's BigQuery boundary as a trait): parquet by
    * default, any implementation satisfying the contract kit works —
    * the orchestration below never assumes a file layout.
    */
  case class Config(
      sourceRoot: String,
      warehouseDir: String,
      statePath: String,
      keyCol: String = "systemid",
      timezone: String = "Africa/Nairobi",
      adapter: graft.io.WarehouseAdapter = graft.io.ParquetWarehouseAdapter,
      mode: LoadMode = OverwriteMode) {
    require(mode == OverwriteMode ||
        adapter.isInstanceOf[graft.io.MergeCapableWarehouse],
      "MergeMode needs a merge-capable warehouse adapter (the manifest " +
        "substrate) — the parquet/CSV substrates only speak the " +
        "truncate-shaped six-verb boundary")
    private[core] def mergeable: graft.io.MergeCapableWarehouse =
      adapter.asInstanceOf[graft.io.MergeCapableWarehouse]
  }

  case class TableResult(folder: String, table: String, rows: Try[Long])

  /** What one [[run]] did: per-folder outcomes plus whether the
    * watermark state actually COMMITTED (false on explicit-folder
    * runs, empty discoveries, and runs where no folder produced a
    * watermark) — the CLI reports this, so it must be the truth of
    * what happened, not an inference from the inputs.
    */
  case class RunReport(tables: Seq[TableResult], stateCommitted: Boolean)

  /** The shared normalize/clean stage (P1→P3 then temporal stringify + rename +
    * audit column — `incremental_etl_v1.py:88-117`).
    */
  def normalizeStage(df: DataFrame, tz: String, clock: Column): DataFrame = {
    val cleaned = Temporal.stringifyTemporals(Normalize.normalizeColumns(df))
    Temporal.withExtractedAt(Normalize.renameReserved(cleaned), tz, clock)
  }

  /** Full load (`helper_functions.py:107-198`): first time a folder is seen —
    * no warehouse side, so merge semantics collapse to tombstone-filter +
    * latest-wins over the change-set alone.
    */
  def fullLoad(spark: SparkSession, cfg: Config, folder: String,
      clock: Column = org.apache.spark.sql.functions.current_timestamp()): Long = {
    val raw = Tables.readCsvFolder(spark, s"${cfg.sourceRoot}/$folder")
    val normalized = Normalize.normalizeColumns(raw)
    val merged = Merge.latestWins(
      Merge.tombstoneFilter(normalized, cfg.keyCol, bc2adlsTombstone),
      Seq(cfg.keyCol), latestOrder)
    val out = Temporal.withExtractedAt(
      Normalize.renameReserved(Temporal.stringifyTemporals(merged)), cfg.timezone, clock)
    val table = Normalize.tableName(folder)
    cfg.mode match {
      case OverwriteMode => cfg.adapter.overwrite(out, cfg.warehouseDir, table)
      // first sight under MergeMode lays the table out for the nightly
      // keyed merge (key-bucketed partitions + key bloom policy)
      case MergeMode =>
        cfg.mergeable.mergeBootstrap(out, cfg.warehouseDir, table, cfg.keyCol)
    }
    cfg.adapter.read(spark, cfg.warehouseDir, table).count()
  }

  /** Incremental merge (`incremental_etl_v1.py:80-188`): read only files newer
    * than the watermark, normalize, align + union onto the warehouse table,
    * tombstone-delete, keep latest version per key, overwrite.
    * Returns None when no new files passed the watermark (C4 short-circuit).
    */
  def incremental(spark: SparkSession, cfg: Config, folder: String,
      watermark: java.sql.Timestamp,
      clock: Column = org.apache.spark.sql.functions.current_timestamp()): Option[Long] = {
    val files = WatermarkStore.listFiles(spark, s"${cfg.sourceRoot}/$folder")
    val fresh = WatermarkStore.newFiles(files, Some(watermark))
    if (fresh.isEmpty) None
    else {
      val table = Normalize.tableName(folder)
      val change = normalizeStage(Tables.readCsvFiles(spark, fresh), cfg.timezone, clock)
      cfg.mode match {
        case OverwriteMode =>
          val warehouse = cfg.adapter.read(spark, cfg.warehouseDir, table)
          val merged = Merge.merge(warehouse, change, cfg.keyCol, latestOrder,
            bc2adlsTombstone)
          // Overwriting the table we are reading requires a materialization
          // barrier (BigQuery stages via GCS in the reference); the
          // adapter's replace contract is exactly that — stage the merged
          // copy fully, THEN unpublish the old; its recoverAll rolls an
          // interrupted swap forward at the next startup.
          cfg.adapter.replace(spark, cfg.warehouseDir, table, merged)
        case MergeMode =>
          // same Merge.merge semantics, applied to the buckets holding
          // the changed keys instead of the whole table — untouched
          // buckets are neither read nor rewritten (the substrate's
          // MVCC commit is the barrier)
          cfg.mergeable.mergeChanges(spark, cfg.warehouseDir, table,
            change, cfg.keyCol, latestOrder, bc2adlsTombstone)
      }
      Some(cfg.adapter.read(spark, cfg.warehouseDir, table).count())
    }
  }

  /** Folder discovery (C3): explicit override, else subdirectories of the
    * source root (`incremental_etl_v1.py:31-46`).
    */
  def discoverFolders(spark: SparkSession, cfg: Config, explicit: Seq[String]): Seq[String] =
    discoverFolders(spark, cfg.sourceRoot, explicit)

  def discoverFolders(spark: SparkSession, sourceRoot: String,
      explicit: Seq[String]): Seq[String] =
    if (explicit.nonEmpty) explicit.distinct
    else {
      val p = new Path(sourceRoot)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted
    }

  /** Startup crash recovery for everything a died run can leave behind
    * in the warehouse — delegated to the substrate
    * ([[graft.io.WarehouseAdapter.recoverAll]]): the parquet adapter
    * completes or sweeps interrupted replace swaps; other substrates
    * heal their own debris. Idempotent; a no-op on a clean warehouse.
    */
  def recover(spark: SparkSession, cfg: Config): Unit =
    cfg.adapter.recoverAll(spark, cfg.warehouseDir)

  /** The whole run (C1 fault isolation, C2 dispatch, C4 skip, watermark commit
    * after all folders — `incremental_etl_v1.py:52-202`). The reference skips
    * the state commit when folders were passed explicitly; we keep that.
    * Starts with [[recover]], so a crashed previous run can never leave the
    * warehouse half-committed into this one.
    */
  def run(spark: SparkSession, cfg: Config, explicit: Seq[String] = Seq.empty,
      clock: Column = org.apache.spark.sql.functions.current_timestamp()): RunReport = {
    recover(spark, cfg)
    val folders = discoverFolders(spark, cfg, explicit)
    val state = WatermarkStore.load(spark, cfg.statePath)
    val results = folders.map { folder =>
      val rows = Try {
        state.get(folder) match {
          case Some(wm) => incremental(spark, cfg, folder, wm, clock).getOrElse(0L)
          case None => fullLoad(spark, cfg, folder, clock)
        }
      }
      TableResult(folder, Normalize.tableName(folder), rows)
    }
    val committed =
      if (explicit.nonEmpty || folders.isEmpty) false
      else {
        // the watermark advances ONLY for folders whose load SUCCEEDED
        // — advancing a failed folder's mark would permanently skip
        // its files on the next (fixed) run: the files sit below the
        // recorded watermark and the incremental path never re-reads
        // them. Silent data loss, shaped exactly like the reference's
        // own update_latest_csv-after-try/except latency bug
        // (incremental_etl_v1.py:198-202) — NOT reproduced, per the
        // §2.12 contract. Failed folders keep their OLD mark (or none),
        // so a re-run after the fix picks their files back up.
        val ok = results.filter(_.rows.isSuccess).map(_.folder).toSet
        val marks = folders.filter(ok).flatMap { folder =>
          WatermarkStore.maxByCreated(
            folder, WatermarkStore.listFiles(spark, s"${cfg.sourceRoot}/$folder"))
        }
        // failed/markless folders must RETAIN their previous state row:
        // save() writes the whole file, so carry the old entries over
        val kept = state.collect {
          case (f, wm) if !marks.exists(_.folder == f) =>
            Watermark(f, wm)
        }.toSeq
        if (marks.nonEmpty) {
          WatermarkStore.save(spark, marks ++ kept, cfg.statePath)
          true
        } else false
      }
    RunReport(results, committed)
  }
}
