package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, current_timestamp, lit, regexp_extract, when}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.core.{Merge, Pipeline}
import graft.io.{PhaseLedger, Tables}

/** Structured Streaming twin of the reference's batch watermark loop.
  *
  * The reference hand-implements a file-source stream: per-folder max
  * file-creation-time persisted to `latest.csv`, reloaded each nightly run
  * to filter newly-arrived blobs (`helper_functions.py:66-105`,
  * `incremental_etl_v1.py:48-49,73-74`). Spark's file source + checkpoint
  * does exactly that natively — the checkpoint's file-source log IS the
  * high-water mark, with exactly-once semantics the CSV state file only
  * approximates — and `Trigger.AvailableNow` reproduces the nightly-batch
  * cadence (process everything new, then stop).
  *
  * Scale notes: discovery cost is bounded with `maxFilesPerTrigger`
  * (micro-batch size cap); the merge itself runs per micro-batch via
  * `foreachBatch`, reusing the exact batch merge operator — same tombstone
  * and latest-wins semantics, so batch and streaming stay provably in sync
  * (StreamingSpec asserts equality against `Merge.merge`).
  *
  * Every incremental-state stream runs through the one sink,
  * [[sinkInto]]; each `xBatch` below is one micro-batch's body, factored
  * out so its replay semantics are directly testable.
  */
object StreamingIngest {

  /** Source stream over a bc2adls-style CSV folder. The schema must be
    * supplied (streaming sources cannot infer — which also kills the
    * reference's per-read double inference scan, SURVEY.md §6).
    */
  def csvStream(spark: SparkSession, path: String, schema: StructType,
      maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream
      .options(Tables.CsvOptions - "inferSchema")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema(schema)
      .csv(path)

  /** The one streaming sink: run `batchFn` on every micro-batch of `df`.
    * It holds the policy every incremental-state stream shares:
    * `Trigger.AvailableNow` (drain all new input, then stop, like the
    * nightly cron), and progress in `checkpoint` (a restart resumes from
    * the checkpoint's source log: no reprocessing, no manual state file).
    * `foreachBatch` delivery is AT-LEAST-ONCE: a crash between a batch's
    * writes and the checkpoint commit re-runs the batch under the same
    * `batchId`, so every `batchFn` must be replay-safe; each batch
    * function below states its argument.
    */
  def sinkInto(df: DataFrame, queryName: String, checkpoint: String)(
      batchFn: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(batchFn)
      .start()

  /** One micro-batch of incremental warehouse maintenance: the change
    * rows are normalized and merged (tombstones + latest-wins) into the
    * parquet warehouse table.
    */
  def mergeBatch(
      spark: SparkSession,
      batch: DataFrame,
      warehouseDir: String,
      table: String,
      keyCol: String,
      order: Seq[Column],
      isTombstone: Column,
      clock: Column = current_timestamp(),
      timezone: String = "Africa/Nairobi"): Unit = {
    val normalized = Pipeline.normalizeStage(batch, timezone, clock)
    val merged =
      if (Tables.warehouseExists(spark, warehouseDir, table)) {
        val current = Tables.readWarehouse(spark, warehouseDir, table)
        Merge.merge(current, normalized, keyCol, order, isTombstone)
      } else {
        Merge.latestWins(
          Merge.tombstoneFilter(normalized, keyCol, isTombstone),
          Seq(keyCol), order)
      }
    // read-modify-overwrite (the reference's load pattern K2)
    // through the STAGED swap: the ._swap staging is both the
    // materialization barrier (the merged plan reads the live table
    // while the stage is written) and the crash guarantee — a batch
    // dying mid-write leaves the intact old table plus sweepable
    // debris, never a torn one, and foreachBatch's at-least-once
    // replay re-runs the merge idempotently (same keys, same
    // latest-wins winners).
    Tables.replaceWarehouse(spark, warehouseDir, table, merged)
  }

  /** The CLI nightly driver behind `GRAFT_MODE=stream`
    * (`graft.EtlMain`): the reference's whole watermark loop re-expressed
    * as Structured Streaming, one file-source query per discovered
    * folder. The checkpoint's file-source log REPLACES the `latest.csv`
    * watermark state entirely — re-runs resume exactly-once from what
    * the last run processed, including after a crash (no state file to
    * commit, no commit-after-failure window at all). Schema comes from
    * one batch inference pass over the folder (streaming sources cannot
    * infer; the pass is the reference's own double-scan, paid once per
    * run). Per-folder fault isolation matches [[Pipeline.run]].
    */
  def runNightly(spark: SparkSession, sourceRoot: String,
      warehouseDir: String, checkpointRoot: String, keyCol: String,
      timezone: String, explicit: Seq[String] = Seq.empty)
      : Seq[Pipeline.TableResult] = {
    graft.io.ParquetWarehouseAdapter.recoverAll(spark, warehouseDir)
    val folders = Pipeline.discoverFolders(spark, sourceRoot, explicit)
    folders.map { folder =>
      val table = graft.core.Normalize.tableName(folder)
      val rows = scala.util.Try {
        val path = s"$sourceRoot/$folder"
        val schema = Tables.readCsvFolder(spark, path).schema
        val q = sinkInto(csvStream(spark, path, schema),
            s"graft-ingest-$table", s"$checkpointRoot/$table") { (batch, _) =>
          mergeBatch(spark, batch, warehouseDir, table, keyCol,
            Pipeline.latestOrder, Pipeline.bc2adlsTombstone,
            timezone = timezone)
        }
        q.awaitTermination()
        Tables.readWarehouse(spark, warehouseDir, table).count()
      }
      Pipeline.TableResult(folder, table, rows)
    }
  }

  /** One micro-batch of streaming incremental dedup: new documents are
    * cleaned against the STORED dedup state
    * ([[graft.ext.Dedup.writeDedupState]]) through
    * [[graft.ext.Dedup.incrementalDedupStored]] — the exact nightly-batch
    * code path, so stream and batch can never drift — then the accepted
    * survivors land in the corpus table AND their hashes/signatures in
    * the state tables, so the NEXT micro-batch dedups against them too.
    * Per-batch cost is O(batch): the corpus is never scanned (state
    * tables only), which is what makes this viable as a continuous
    * ingest loop rather than a nightly job. Bootstrap: call
    * `writeDedupState` once on the existing corpus (or an empty frame
    * with the right schema) before the first run.
    *
    * Every write here is idempotent-or-replay-safe:
    *  - corpus survivors land in partition `_ingest_batch=<batchId>` via
    *    dynamic partition overwrite — a replayed batch REPLACES its own
    *    partition instead of appending duplicate documents;
    *  - the state-table appends may duplicate rows on replay, which is
    *    SAFE by construction: the hash anti-join has set semantics, and
    *    duplicate signature rows only duplicate candidate pairs, which
    *    are distinct()-ed before the survivors anti-join.
    */
  def dedupBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      warehouseDir: String, corpusTable: String, stateName: String,
      textCol: String, idCol: String, numHashes: Int, bands: Int,
      shingleSize: Int, estJaccardThreshold: Double): Unit = {
    import org.apache.spark.sql.functions.md5
    // materialize survivors BEFORE mutating the state they were computed
    // against (the writes below feed the plan's own inputs)
    // drift-guard the raw batch rows against the corpus schema BEFORE
    // computing anything (the corpus is the one dedup relation that
    // stores caller-shaped rows; the hash/sig relations derive their
    // schemas internally) — a renamed source column must fail here, not
    // land as a partition of mismatched files
    val guarded =
      if (Tables.warehouseExists(spark, warehouseDir, corpusTable)) {
        val stored = Tables.readWarehouse(spark, warehouseDir, corpusTable)
        graft.core.SchemaGuard.conform(
          StructType(stored.schema.fields.filterNot(_.name == "_ingest_batch")),
          batch, align = false, s"$corpusTable (dedup corpus)")
      } else batch
    val survivors = graft.ext.Dedup.incrementalDedupStored(
        spark, stateName, guarded, col(textCol), idCol,
        numHashes, bands, shingleSize, estJaccardThreshold)
      .withColumn("_ingest_batch", lit(batchId))
      .localCheckpoint(eager = true)
    Tables.writeWarehousePartitioned(survivors, warehouseDir, corpusTable,
      Seq("_ingest_batch"))
    // hashes are written LAST: once a batch's hashes are in, a replay sees
    // its docs as exact duplicates and recomputes nothing — so every write
    // that must still be completable on replay (corpus partition, sigs)
    // has to already be durable by then. Crash between sigs and hashes →
    // replay re-appends sigs (duplicates, safe) and completes the hashes.
    graft.ext.Dedup.minhashSignatures(
        survivors, col(textCol), idCol, numHashes, shingleSize)
      .write.mode("append").insertInto(s"${stateName}_sigs")
    val newHashes = survivors.select(md5(col(textCol)).as("text_md5")).distinct()
    // the bloom OR must land BEFORE the hashes insert: once the hashes are
    // in, a replay sees the batch as exact duplicates and newHashes comes
    // back EMPTY — a crash in between would leave the bloom permanently
    // missing this batch's bits (false negatives = silent under-dedup).
    // The reverse order is safe: a bloom superset of the hash relation
    // only costs confirm-join work, and the OR rewrite is idempotent
    // (bloom(A)|bloom(B) == bloom(A∪B) at fixed width).
    if (spark.catalog.tableExists(s"${stateName}_bloom"))
      graft.ext.Dedup.appendDedupBloom(spark, warehouseDir, stateName,
        newHashes)
    newHashes.write.mode("append").insertInto(s"${stateName}_hashes")
    // The inserts execute on the micro-batch's CLONED session and refresh
    // only that clone's relation cache; the driving session — whose cache
    // the next micro-batch's table reads resolve against — still holds
    // the pre-insert file listing. Refresh it explicitly or every later
    // batch dedups against stale (even empty) state.
    spark.catalog.refreshTable(s"${stateName}_hashes")
    spark.catalog.refreshTable(s"${stateName}_sigs")
    if (spark.catalog.tableExists(s"${stateName}_bloom"))
      spark.catalog.refreshTable(s"${stateName}_bloom")
    // incrementalDedupFrom caches its batch-side relations (callers own
    // cleanup); a continuous ingest loop must drop them per batch or the
    // cache manager pins one pair of dead relations per micro-batch.
    spark.sharedState.cacheManager.clearCache()
  }

  /** One micro-batch of streaming maintenance of a STORED inverted text
    * index ([[graft.ext.Relevance.writeTextIndex]]): new documents land
    * in the postings/lengths/totals relations through the replay-safe
    * append ([[graft.ext.Relevance.appendTextIndexSafe]] — per-document
    * exactly-once under foreachBatch's at-least-once contract; a
    * redelivered batch re-appends only rows whose write never
    * completed), so running it twice leaves the index byte-identical to
    * running it once. Per-batch cost is O(batch) tokenize+agg plus the
    * idempotence probes; the corpus is never rescanned, searches between
    * batches read the live index. Bootstrap: run `writeTextIndex` once
    * (empty corpus is fine) before the first stream start — the same
    * contract as [[dedupBatch]].
    */
  def indexTextBatch(spark: SparkSession, batch: DataFrame,
      warehouseDir: String, name: String, textCol: String, idCol: String,
      numBuckets: Int): Unit = {
    graft.ext.Relevance.appendTextIndexSafe(spark, name, batch,
      col(textCol), idCol, warehouseDir, numBuckets)
    // the appends ran on the micro-batch's cloned session; refresh the
    // driving session's relation cache (the dedupBatch lesson) so the
    // next batch's idempotence probes and any interleaved searches see
    // the new files
    Seq("postings", "lengths", "totals").foreach(t =>
      spark.catalog.refreshTable(s"${name}_$t"))
  }

  /** One micro-batch of streaming ingest of trusted-corpus batches into
    * the LOG-STRUCTURED LM count state
    * ([[graft.ext.LangModel.writeLmDeltaState]]): the batch's
    * unigram/bigram count deltas are appended under the batch-id tag, so
    * foreachBatch's at-least-once replay skips every phase the state's
    * phase ledger already marks instead of double-counting — the
    * count-state analogue of [[indexTextBatch]]'s anti-join guard, at
    * one marker file per phase. Bootstrap: `writeLmDeltaState` once (any seed batch, e.g.
    * empty) before the first stream start; compact periodically with
    * [[graft.ext.LangModel.compactLmDeltaState]].
    */
  def lmCountsBatch(spark: SparkSession, batch: DataFrame, name: String,
      textCol: String, idCol: String, numBuckets: Int, batchId: Long): Unit = {
    graft.ext.LangModel.appendLmDelta(batch.sparkSession, name, batch,
      col(textCol), idCol, numBuckets, s"stream_$batchId")
    Seq("uni", "bi").foreach(t =>
      spark.catalog.refreshTable(s"${name}_$t"))
  }

  /** One micro-batch of streaming maintenance of a STORED IVFPQ vector
    * index ([[graft.ext.Similarity.writeIvfPqIndex]]): new vectors are
    * assigned + PQ-encoded against the FROZEN quantizers and appended to
    * the code relation (plus the drift-stats ledger feeding
    * [[graft.ext.Similarity.needsRetrain]]). Replay safety: the batch is
    * first anti-joined against the code relation's committed ids, so a
    * redelivered batch appends nothing — codes stay per-document
    * exactly-once. (A crash BETWEEN the codes append and the stats append
    * loses that batch's stats rows on replay: the drift ledger may
    * slightly UNDERCOUNT after a partial failure — monitoring tolerance,
    * never search-correctness, and the bias is toward earlier retraining
    * checks, the safe side.) Bootstrap: `writeIvfPqIndex` once before the
    * first stream start.
    */
  def indexVectorsBatch(spark: SparkSession, batch: DataFrame, name: String,
      idCol: String, vecCol: String, numBuckets: Int): Unit = {
    // state reads on the batch's own session (see appendTextIndexSafe)
    val committed = Tables.readWarehouseBucketed(batch.sparkSession,
      s"${name}_codes")
      .select(col("neighbor_id").as(idCol)).distinct()
    // eager: appendIvfPqIndex consumes the batch twice (codes + stats);
    // both passes must see the same committed-id snapshot, not one taken
    // after its own codes write
    val fresh = batch.join(committed, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    if (!fresh.isEmpty)
      graft.ext.Similarity.appendIvfPqIndex(spark, name, fresh, idCol,
        vecCol, numBuckets)
    Seq("codes", "stats").foreach(t =>
      spark.catalog.refreshTable(s"${name}_$t"))
  }

  /** One micro-batch of streaming maintenance of the MATERIALIZED JOIN
    * view ([[graft.ext.IncrementalJoin]]), left side streamed against the
    * stored right side. Delegates to
    * [[graft.ext.IncrementalJoin.appendLeftSafe]]: a batch row whose
    * `idCol` already sits in a stored relation is a redelivery and
    * contributes nothing to it, and its per-RELATION committed-id guards
    * make the batch exactly-once even when a crash lands between the
    * `_out` and `_left` appends (a single guard probing only `_left`
    * would re-append the same delta to `_out` on replay — duplicate join
    * rows). (`idCol` must be unique per left row — the natural primary
    * key of a fact stream.)
    */
  def joinLeftBatch(spark: SparkSession, batch: DataFrame,
      warehouseDir: String, name: String, keyCol: String, idCol: String): Unit = {
    graft.ext.IncrementalJoin.appendLeftSafe(spark, warehouseDir, name,
      batch, keyCol, idCol)
    Seq("left", "right", "out").foreach(t =>
      spark.catalog.refreshTable(s"${name}_$t"))
  }

  /** The ±1 multiplicity of a CDC change batch whose rows carry `opCol`
    * ∈ {insert, delete}: deletes are −1, inserts +1. Any other value
    * fails the batch before anything is written.
    */
  private def cdcMult(batch: DataFrame, opCol: String): Column = {
    val ops = batch.select(col(opCol)).distinct().collect().map(_.getString(0))
    val bad = ops.filterNot(Set("insert", "delete"))
    require(bad.isEmpty, s"unknown $opCol values: ${bad.mkString(",")}")
    when(col(opCol) === "delete", lit(-1L)).otherwise(lit(1L))
  }

  /** One micro-batch of streaming CDC maintenance of the COUNTED join
    * view ([[graft.ext.IncrementalJoin.appendStoredCounted]]): a
    * left-side change stream whose rows carry `opCol` ∈ {insert, delete}
    * folds into the counted state — deletes retract their earlier join
    * contributions by signed multiplicity, the composition a `Merge`
    * tombstone feed needs. Replay safety is the counted append's own
    * phase ledger + read-side distinct (every crash window converges; a
    * completed batch short-circuits), so this batch only signs the rows
    * and names the batch. Bootstrap: `createStoredCounted` before the
    * first start.
    */
  def cdcJoinLeftBatch(spark: SparkSession, batch: DataFrame,
      warehouseDir: String, name: String, keyCol: String, opCol: String,
      batchId: Long): Unit = {
    import graft.ext.IncrementalJoin
    val signed = batch
      .withColumn(IncrementalJoin.MultCol, cdcMult(batch, opCol))
      .drop(opCol)
    val emptyRight = IncrementalJoin.inserts(
      Tables.readWarehouseBucketed(spark, s"${name}_right")
        .drop(IncrementalJoin.MultCol, IncrementalJoin.BatchCol).limit(0))
    IncrementalJoin.appendStoredCounted(spark, warehouseDir, name,
      signed, emptyRight, keyCol, batchTag = s"stream_$batchId")
    // the counted append's phase ledger is filesystem marker files
    // (PhaseLedger), not a catalog table — only the data relations need
    // a refresh
    Seq("left", "right", "out").foreach(t =>
      spark.catalog.refreshTable(s"${name}_$t"))
  }

  /** One micro-batch of streaming CDC maintenance of RETRACTABLE
    * aggregate state ([[graft.ext.IncrementalAgg.appendRetractable]]):
    * signed change rows (`opCol` ∈ {insert, delete}) fold their partial
    * aggregate into a per-batch partition — deletes as negative
    * contributions. Replay safety is the partition-replace contract: a
    * redelivered batch id REPLACES its own partition, so at-least-once
    * delivery never double-counts (same as
    * [[graft.ext.IncrementalAgg.appendDeltaPartition]], now with
    * retractions). Bootstrap: `createRetractable` before the first start.
    */
  def cdcAggBatch(spark: SparkSession, batch: DataFrame, warehouseDir: String,
      name: String, groupCols: Seq[String], valueFp: Column, opCol: String,
      batchId: Long): Unit =
    graft.ext.IncrementalAgg.appendRetractable(warehouseDir, name,
      batch, groupCols, valueFp, cdcMult(batch, opCol), s"stream_$batchId")

  /** One micro-batch of streaming maintenance of the STORED
    * sessionization state ([[graft.ext.SessionState]]): events fold into
    * the `_closed`/`_open` relations under the same gap rule as the batch
    * form. Replays follow the [[scdBatch]] two-phase ledger
    * ([[graft.io.PhaseLedger]]; a full rerun of a completed batch is not
    * inert for session state — the batch's events would extend the
    * ALREADY-advanced open slice): phase "closed" appends behind the
    * (key, session_start) anti-join guard, phase "open" replaces the
    * slice; completed batches short-circuit. Bootstrap:
    * `SessionState.createStored` (it resets the ledger).
    *
    * Unlike SCD2's phases, the session open-slice replacement is NOT
    * recompute-idempotent once the swap has landed (re-merging the
    * batch into the already-advanced slice would double-count), so the
    * merged fold is STAGED durably under the batch tag first: every
    * phase is then a pure function of the staged relation, a crash in
    * ANY window replays from the identical staged rows (re-staging only
    * happens while the open slice is still pre-batch), and the staging
    * is swept only after the final ledger mark.
    */
  def sessionBatch(spark: SparkSession, batch: DataFrame,
      warehouseDir: String, name: String, keyCol: String, tsCol: String,
      valueFp: Column, gap: String, batchId: Long): Unit = {
    import org.apache.spark.sql.functions.max
    if (batch.isEmpty) return
    val tag = s"stream_$batchId"
    val stage = new org.apache.hadoop.fs.Path(
      s"$warehouseDir/$name._sess_$tag")
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (PhaseLedger.marked(spark, warehouseDir, name, tag, "open")) {
      fs.delete(stage, true); return
    }
    if (!fs.exists(new org.apache.hadoop.fs.Path(stage, "_SUCCESS")))
      graft.ext.SessionState.mergedSessions(spark, warehouseDir, name, batch,
          keyCol, tsCol, valueFp, gap)
        .write.mode("overwrite").parquet(stage.toString)
    val sessions = spark.read.parquet(stage.toString)
    val wm = sessions.agg(max("last_ts")).head().getTimestamp(0)
    if (!PhaseLedger.marked(spark, warehouseDir, name, tag, "closed")) {
      graft.ext.SessionState.appendClosedPhase(spark, warehouseDir, name,
        sessions, keyCol, wm, gap)
      spark.catalog.refreshTable(s"${name}_closed")
      PhaseLedger.mark(spark, warehouseDir, name, tag, "closed")
    }
    graft.ext.SessionState.replaceOpenPhase(spark, warehouseDir, name,
      sessions, wm, gap)
    PhaseLedger.mark(spark, warehouseDir, name, tag, "open")
    fs.delete(stage, true)
  }

  /** One micro-batch of the streaming MANIFEST-VERSIONED sink
    * ([[graft.io.ManifestVersioned]]): the batch commits ONE atomic
    * manifest version replacing exactly the partitions present in the
    * batch (partition-replace, the dynamic-overwrite contract) —
    * untouched partitions share the previous version's files, and every
    * micro-batch boundary stays time-travelable. EXACTLY-ONCE under
    * foreachBatch's at-least-once replays WITHOUT a ledger: the commit
    * itself records the batch id as the manifest note, and a replayed
    * batch whose id already heads the table short-circuits — a crash
    * BEFORE the manifest commit left nothing visible (only orphan staging
    * for vacuum), a crash AFTER it left the batch fully committed.
    * Single-stream-per-table contract (the note guard reads the head; two
    * writers would interleave ids). Bootstrap with
    * [[graft.io.ManifestVersioned.writeFull]] first.
    */
  def manifestBatch(spark: SparkSession, batch: DataFrame,
      warehouseDir: String, table: String, partCol: String,
      batchId: Long): Unit = {
    val note = s"batch:$batchId"
    if (!graft.io.ManifestVersioned
        .manifestNote(spark, warehouseDir, table).contains(note))
      graft.io.ManifestVersioned.writeDelta(spark, warehouseDir, table,
        batch, partCol, note = note)
  }

  /** Streaming SOURCE over a manifest-versioned table's commit log —
    * the subscription twin of [[graft.io.ManifestVersioned
    * .readChangesSince]]. Every committed version leaves a visible
    * breadcrumb under `commits/` (the manifest itself is `_`-prefixed
    * and thus hidden from Spark's file sources), so Spark's own file
    * source provides checkpointed, exactly-once discovery of newly
    * committed versions with zero bespoke offset plumbing: each
    * micro-batch carries the NEW commit markers since the last
    * checkpoint. Rows are (manifest_path, version) — the marker content
    * is not the payload; [[changeFeedBatch]] turns each discovered
    * version into its row-level change feed with the real (distributed,
    * partition-pruned) read.
    */
  def manifestCommitStream(spark: SparkSession, warehouseDir: String,
      table: String): DataFrame =
    spark.readStream
      .format("text")
      // the file source SILENTLY ignores files older than maxFileAge
      // (default 7d) once more than one batch has run — a subscriber
      // bootstrapping against a table whose early commits are older
      // would skip them without error; commit markers are tiny and
      // bounded by vacuum retention, so disable the age cutoff
      .option("maxFileAge", "35000d")
      .load(s"$warehouseDir/$table.mv/commits/manifest.v*")
      .select(col("_metadata.file_path").as("manifest_path"))
      .withColumn("version",
        regexp_extract(col("manifest_path"), "manifest\\.v(\\d+)$", 1)
          .cast("int"))

  /** STREAMING view maintenance, one [[manifestCommitStream]] micro-batch:
    * every discovered commit triggers one
    * [[graft.ext.IncrementalAgg.syncRetractableFromManifest]] — the
    * materialized view follows the table with no poller and no
    * scheduler. The discovered batch is only the TRIGGER: the sync is
    * self-pacing off its own `mv<v>` high-water tag, so foreachBatch's
    * at-least-once replays, coalesced discoveries, and commits that
    * raced past the log are all absorbed by the same
    * partition-replace / no-op argument the sync makes in batch mode.
    * Single-subscriber-per-view contract (the tag IS the ledger).
    */
  def viewBatch(spark: SparkSession, batch: DataFrame, warehouseDir: String,
      table: String, viewName: String, keyCol: String, groupCols: Seq[String],
      valueCols: Seq[String], valueFp: Column): Unit =
    if (!batch.isEmpty)
      graft.ext.IncrementalAgg.syncRetractableFromManifest(spark,
        warehouseDir, table, viewName, keyCol, groupCols, valueCols,
        valueFp): Unit

  /** Row-level CHANGE-FEED subscription, one [[manifestCommitStream]]
    * micro-batch: every version committed to a manifest table lands in
    * the `outName` warehouse table as `Merge.changeFeed` rows (version,
    * key, change_type ∈ insert|update|delete, old/new values), one
    * partition per source version; the bootstrap version feeds as
    * inserts. EXACTLY-ONCE under foreachBatch's at-least-once replays by
    * partition-replace: a batch writes exactly the `version=N`
    * partitions of the versions it discovered, each a pure function of
    * the immutable manifest pair — a replay overwrites them with
    * identical rows. Single-subscriber-per-out-table contract. The
    * version list is metadata-scale (one row per commit in the batch);
    * the feed itself is one distributed, manifest-pruned read per
    * contiguous version run.
    */
  def changeFeedBatch(spark: SparkSession, batch: DataFrame,
      warehouseDir: String, table: String, keyCol: String,
      outName: String): Unit = {
    val versions = batch.select("version").distinct()
      .collect().map(_.getInt(0)).sorted
    if (versions.isEmpty) return
    // Resume from the APPLIED high-water mark (the out table's own
    // version partitions), not from the versions this batch happened to
    // discover: a committed version whose best-effort commit marker was
    // never written (crash between manifest publish and marker publish)
    // is invisible to the file source FOREVER, so `chunk.head - 1`
    // would silently skip its changes whenever the next marker lands in
    // a later micro-batch or past a chunk boundary. Starting at
    // min(discovered, applied+1) keeps coverage contiguous from what
    // was last applied — the marker-less version's feed rows ride the
    // next discovery — while a replayed batch (applied ≥ discovered)
    // just rewrites its own partitions with identical rows.
    val outDir = new org.apache.hadoop.fs.Path(s"$warehouseDir/$outName")
    val ofs = outDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val applied: Int =
      if (!ofs.exists(outDir)) 0
      else ofs.listStatus(outDir).toSeq.map(_.getPath.getName)
        .filter(_.matches("version=\\d+"))
        .map(_.stripPrefix("version=").toInt)
        .foldLeft(0)(math.max)
    // The applied+1 backfill only applies to a subscriber with APPLIED
    // history (applied > 0): the marker-crash gap it covers (a version
    // whose commit marker was never written, invisible to the file
    // source forever) can only sit between something already applied
    // and this discovery. A FRESH out table must start from the
    // discovered in-retention versions instead — backfilling to 1
    // against a table whose early manifests were already vacuumed
    // would make readChangesSince fail on a missing manifest forever,
    // so a new subscriber could never bootstrap after any vacuum.
    val start0 =
      if (applied > 0) math.min(versions.head, applied + 1)
      else versions.head
    // RETENTION: diffing version v needs manifest v-1, so the oldest
    // retained version serves only as a SNAPSHOT. Three cases:
    //  - fresh subscriber whose start predates retention: bootstrap —
    //    write the oldest retained version as a full insert snapshot
    //    (the Delta CDF startingVersion pattern; when nothing was ever
    //    vacuumed this IS the plain from-zero feed), then diff onward;
    //  - established subscriber whose APPLIED high-water mark fell out
    //    of retention: the changes between are unrecoverable — fail
    //    LOUDLY and actionably, never silently re-label missed updates;
    //  - replay of versions older than retention that were already
    //    applied: skip them (their partitions hold the identical,
    //    deterministic rows already) and rewrite only what is diffable.
    val oldest = graft.io.ManifestVersioned
      .listVersions(spark, warehouseDir, table).headOption.getOrElse(return)
    val start =
      if (applied == 0) {
        if (start0 <= oldest) {
          graft.io.ManifestVersioned.readChangesBootstrap(spark,
              warehouseDir, table, oldest, keyCol)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("version")
            .parquet(s"$warehouseDir/$outName")
          oldest + 1
        } else start0
      } else {
        if (applied < oldest) throw new IllegalStateException(
          s"change-feed subscriber $outName resumes from applied " +
            s"version $applied, but $table's history before version " +
            s"$oldest was vacuumed — the changes between are " +
            "unrecoverable. Restart the subscriber fresh (drop " +
            s"$outName and its checkpoint) to bootstrap from the " +
            s"current snapshot, and size the table's vacuum retention " +
            "above the slowest subscriber's lag")
        math.max(start0, oldest + 1)
      }
    if (start > versions.last) return
    // readChangesSince composes consecutive manifest pairs into one
    // relation. CHUNK the contiguous run (a bootstrap against a
    // long-lived table can span thousands of versions; one union plan
    // over all of them would be planner-hostile) — each chunk's write
    // replaces exactly its own version partitions, so chunking
    // preserves the replay-idempotence argument chunk by chunk.
    (start to versions.last).grouped(64).foreach { chunk =>
      val feed = graft.io.ManifestVersioned.readChangesSince(spark,
        warehouseDir, table, sinceV = chunk.head - 1, keyCol,
        toV = Some(chunk.last))
      feed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("version")
        .parquet(s"$warehouseDir/$outName")
    }
  }

  /** One micro-batch of streaming maintenance of the STORED
    * perceptual-image band state
    * ([[graft.ext.Multimodal.appendImageNearDup]]): the batch's image
    * hashes probe the state, its near-dup pairs land in a per-batch
    * partition of `{name}_imgpairs`, and its own band rows append
    * exactly-once (the append's anti-join on already-present asset ids).
    * Pairs are DETERMINISTIC under replay — a replayed batch finds its
    * own bands in state, but those cross-matches canonicalize and dedup
    * to exactly the batch-internal pairs already emitted — so the pairs
    * write is a pure partition replace, no ledger anywhere.
    */
  def imageNearDupBatch(spark: SparkSession, batch: DataFrame,
      warehouseDir: String, name: String, idCol: String, maxDist: Int,
      batchId: Long): Unit = {
    val pairs = graft.ext.Multimodal.appendImageNearDup(spark, warehouseDir,
      name, batch, idCol, maxDist)
    Tables.writeWarehousePartitioned(
      pairs.withColumn("_ingest_batch", lit(s"stream_$batchId")),
      warehouseDir, s"${name}_imgpairs", Seq("_ingest_batch"))
  }

  /** One micro-batch of the streaming sub-document contamination screen
    * over the STORED gram state
    * ([[graft.ext.Dedup.duplicateSpansIncremental]]): the batch's
    * duplicated spans land in a per-batch partition of `{name}_spans`,
    * then the batch's grams append to the state. The span detection is
    * NOT replay-deterministic once its own grams are in state (every
    * batch gram would read as corpus-duplicated), so the two steps run
    * under the [[scdBatch]]-style two-phase ledger
    * ([[graft.io.PhaseLedger]]): `spans` marked after the partition
    * replace (recompute before the gram append is deterministic), `grams`
    * marked after the append (gram duplicates are semantically inert, so
    * a re-append between the marks is harmless). Bootstrap:
    * [[graft.ext.Dedup.writeSpanState]] on the same name (it resets the
    * ledger).
    */
  def dupSpansBatch(spark: SparkSession, batch: DataFrame,
      warehouseDir: String, name: String, textCol: String, idCol: String,
      k: Int, minDocs: Int, numBuckets: Int, batchId: Long): Unit = {
    val tag = s"stream_$batchId"
    if (PhaseLedger.marked(spark, warehouseDir, name, tag, "grams")) return
    if (!PhaseLedger.marked(spark, warehouseDir, name, tag, "spans")) {
      val spans = graft.ext.Dedup.duplicateSpansIncremental(spark, name,
        batch, col(textCol), idCol, k, minDocs)
      Tables.writeWarehousePartitioned(
        spans.withColumn("_ingest_batch", lit(tag)),
        warehouseDir, s"${name}_spans", Seq("_ingest_batch"))
      PhaseLedger.mark(spark, warehouseDir, name, tag, "spans")
    }
    graft.ext.Dedup.appendSpanState(spark, name, batch, col(textCol), idCol,
      k, numBuckets)
    PhaseLedger.mark(spark, warehouseDir, name, tag, "grams")
  }

  /** One micro-batch of streaming maintenance of the STORED SCD2
    * dimension state ([[graft.ext.ScdState]]): new versions fold into
    * the `_hist`/`_cur` relations. foreachBatch is at-least-once and a
    * FULL re-run of a completed batch is not inert for SCD2 (the batch's
    * own current rows would be re-closed at its first version), so
    * replay safety is a TWO-PHASE batch ledger ([[graft.io.PhaseLedger]]
    * marks `stream_<batchId>.<phase>` under `{name}_applied`) over
    * [[graft.ext.ScdState]]'s idempotent phases:
    *   - `hist` marked after the closed-version append — re-running the
    *     phase before the mark re-derives the same rows and the
    *     (key, valid_from) anti-join drops those already written;
    *   - `cur` marked after the current-slice swap — the slice recompute
    *     is idempotent whether the crash hit before or after the swap,
    *     and the swap itself is the durable staged
    *     [[graft.io.Tables.replaceWarehouse]];
    *   - a batch whose `cur` mark exists short-circuits entirely.
    * Every window between any two steps therefore replays to the correct
    * final state. Bootstrap: `ScdState.createStored` (it resets the
    * ledger) before the first stream start.
    */
  def scdBatch(spark: SparkSession, batch: DataFrame, warehouseDir: String,
      name: String, keyCol: String, versionCol: String, tiebreak: Column,
      batchId: Long): Unit = {
    val tag = s"stream_$batchId"
    if (PhaseLedger.marked(spark, warehouseDir, name, tag, "cur")) return
    val b = graft.ext.ScdState.conformed(spark, warehouseDir, name, batch,
      align = false).localCheckpoint(true)
    if (!PhaseLedger.marked(spark, warehouseDir, name, tag, "hist")) {
      graft.ext.ScdState.appendClosedPhase(spark, warehouseDir, name, b,
        keyCol, versionCol, tiebreak)
      spark.catalog.refreshTable(s"${name}_hist")
      PhaseLedger.mark(spark, warehouseDir, name, tag, "hist")
    }
    graft.ext.ScdState.replaceCurPhase(spark, warehouseDir, name, b,
      keyCol, versionCol, tiebreak)
    PhaseLedger.mark(spark, warehouseDir, name, tag, "cur")
  }
}
