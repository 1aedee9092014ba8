package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{coalesce, col, lead, lit, max, row_number, when}
import org.apache.spark.sql.types.DataType

/** The merge core (SURVEY.md §2.3 J1, §2.5 W1, §2.7 U2) — the semantic heart of
  * the reference: schema-aligned union + tombstone delete + latest-wins dedup
  * (`incremental_etl_v1.py:120-181`, `helper_functions.py:140-173`).
  *
  * Scale notes (100 TB): the tombstone key set is a filtered projection of the
  * input — tiny relative to the table — so the anti-join broadcasts under AQE;
  * `latestWins` costs exactly one hash shuffle on the key plus a per-partition
  * sort, the minimum for upsert semantics. Nothing here collects to the driver.
  */
object Merge {

  /** J1 — remove every row whose key appears in the tombstone key set.
    *
    * This is the NULL-SAFE form (the fix called for in SURVEY.md §2.12): a NULL
    * tombstone key deletes only NULL-keyed rows instead of silently emptying the
    * table the way SQL `NOT IN` would. Contract: one tombstone kills ALL versions
    * of that key (`incremental_etl_v1.py:154-160`).
    */
  def tombstoneFilter(df: DataFrame, keyCol: String, isTombstone: Column): DataFrame = {
    val tomb = df.filter(isTombstone).select(col(keyCol).as("__graft_tomb_key")).distinct()
    df.join(tomb, col(keyCol) <=> col("__graft_tomb_key"), "left_anti")
  }

  /** J1 (faithful variant) — bit-for-bit SQL `NOT IN` three-valued-logic
    * semantics, for parity with the reference's subquery
    * (`incremental_etl_v1.py:154-160`): if ANY tombstone key is NULL the result
    * is empty; rows with a NULL key are never emitted; an empty tombstone set
    * passes everything (including NULL-keyed rows).
    *
    * The OR-condition forces a nested-loop anti join — fine for a small
    * tombstone side, which is the only shape `NOT IN` is safe for anyway.
    */
  def notInFilter(df: DataFrame, keyCol: String, isTombstone: Column): DataFrame = {
    val tomb = df.filter(isTombstone).select(col(keyCol).as("__graft_tomb_key")).distinct()
    df.join(
      tomb,
      col(keyCol) === col("__graft_tomb_key") ||
        col(keyCol).isNull || col("__graft_tomb_key").isNull,
      "left_anti")
  }

  /** W1 — keep exactly one row per key: the one ranked first by `order`.
    * Reference: `ROW_NUMBER() OVER (PARTITION BY systemid ORDER BY
    * systemmodifiedat DESC) ... WHERE rn = 1` (`incremental_etl_v1.py:166-175`).
    *
    * The reference's `row_number` over ties is nondeterministic (SURVEY.md
    * §2.12); callers should pass a total order (e.g. version desc + unique id).
    */
  def latestWins(df: DataFrame, partitionCols: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(order: _*)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** SCD Type-2 alternative to [[latestWins]]: keep EVERY version of each
    * business row, stamped with its `[valid_from, valid_to)` validity
    * range and an `is_current` flag — the warehouse-history form of the
    * reference's upsert (which keeps only the survivor,
    * `incremental_etl_v1.py:166-175`). `valid_to` is the NEXT version's
    * timestamp (lead over the same key window latestWins ranks on; the
    * `tiebreak` column makes version order total when timestamps collide),
    * open (null) for the current version. Same single key-shuffle + sort
    * as latestWins — history costs no extra exchange, only the retained
    * rows.
    */
  def scdHistory(df: DataFrame, partitionCols: Seq[String],
      versionCol: String, tiebreak: Column): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(col(versionCol).asc_nulls_first, tiebreak.asc)
    df.withColumn("valid_from", col(versionCol))
      .withColumn("valid_to", lead(col(versionCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** U2 — union two schema-drifted tables (`incremental_etl_v1.py:120-145`):
    *   - output columns = change-set columns first (in change order), then
    *     target-only extras (in target order; the reference's extras order is a
    *     Python `set` — nondeterministic — we pin it),
    *   - a side missing a column contributes typed NULLs,
    *   - the TARGET's type is authoritative for common columns: change-set
    *     columns are cast to it (P9, `incremental_etl_v1.py:139-143`) —
    *     EXCEPT when the change's type safely WIDENS the target's
    *     ([[SchemaGuard.widens]]: int→long, decimal growth, …), where the
    *     union widens instead: the target side casts up losslessly. The
    *     reference shape (narrow-or-equal change) is untouched; the
    *     widened case previously just overflowed mid-cast under ANSI, so
    *     this is new capability, not changed behavior — it is what lets a
    *     nightly merge carry a type widening through to the manifest
    *     layer's schema evolution.
    */
  def alignedUnion(target: DataFrame, change: DataFrame): DataFrame = {
    val targetTypes: Map[String, DataType] =
      target.schema.fields.map(f => f.name -> f.dataType).toMap
    val changeTypes: Map[String, DataType] =
      change.schema.fields.map(f => f.name -> f.dataType).toMap
    val order: Seq[String] =
      change.columns.toSeq ++ target.columns.toSeq.filterNot(changeTypes.contains)
    def authoritative(c: String): DataType =
      (targetTypes.get(c), changeTypes.get(c)) match {
        case (Some(t), Some(ch)) if SchemaGuard.widens(t, ch) => ch
        case (Some(t), _) => t
        case (None, ch) => ch.get
      }

    def project(df: DataFrame, own: Map[String, DataType]) =
      df.select(order.map { c =>
        val a = authoritative(c)
        if (!own.contains(c)) lit(null).cast(a).as(c)
        else if (own(c) == a) col(c)
        else col(c).cast(a).as(c)
      }: _*)

    project(target, targetTypes).unionAll(project(change, changeTypes))
  }

  /** The full incremental merge: align + union the change-set onto the current
    * table, apply tombstone deletes, keep the latest version per key
    * (`incremental_etl_v1.py:120-181`).
    */
  def merge(
      target: DataFrame,
      change: DataFrame,
      keyCol: String,
      order: Seq[Column],
      isTombstone: Column): DataFrame =
    latestWins(
      tombstoneFilter(alignedUnion(target, change), keyCol, isTombstone),
      Seq(keyCol),
      order)

  /** [[merge]] under ANSI-MERGE precedence: a change row beats the target
    * row for its key UNCONDITIONALLY (SQL `WHEN MATCHED THEN UPDATE SET *`
    * — source wins by provenance, not by a version column), with `order`
    * only breaking ties WITHIN each side. Two further ANSI alignments the
    * version-ordered form cannot express:
    *   - `isTombstone` is evaluated on CHANGE rows only (SQL's
    *     `WHEN MATCHED AND <cond> THEN DELETE` tests the source row; a
    *     target row whose stored values happen to satisfy the condition
    *     must NOT self-delete);
    *   - provenance rides a transient `__graft_pri` helper column, tagged
    *     before the union and dropped after latest-wins (P8's
    *     helper-column pattern), so the output schema is exactly
    *     [[alignedUnion]]'s.
    * Used by the SQL DML surface ([[graft.plans.ResolveGraftTables]]);
    * the batch-ETL paths keep the version-ordered [[merge]].
    */
  def mergeSourceWins(
      target: DataFrame,
      change: DataFrame,
      keyCol: String,
      order: Seq[Column],
      isTombstone: Column): DataFrame = {
    val pri = "__graft_pri"
    // arg orientation preserved from [[merge]]: the TARGET's types stay
    // authoritative for common columns (change casts to them)
    val unioned = alignedUnion(
      target.withColumn(pri, lit(0)), change.withColumn(pri, lit(1)))
    latestWins(
      tombstoneFilter(unioned, keyCol, isTombstone && col(pri) === 1),
      Seq(keyCol),
      col(pri).desc +: order)
      .drop(pri)
  }

  /** [[merge]] (or [[mergeSourceWins]] under `sourceWins`) in ONE
    * shuffle, for a layout whose `clusterCols` are pure functions of
    * `keyCol` (a key-bucketed table): the union is hash-partitioned by
    * `clusterCols` once, and both the tombstone delete and latest-wins
    * run as window functions over (clusterCols, key) inside that
    * partitioning — one sort, no anti-join. Every row of a key shares
    * its cluster value, so the (clusterCols, key) groups are exactly the
    * key groups [[merge]] ranks (NULL keys group together, as the
    * null-safe tombstone join matches them). Each cluster value lands
    * in exactly one task, so a partitioned write of the result writes
    * one file per cluster value.
    */
  def mergeClustered(
      target: DataFrame,
      change: DataFrame,
      keyCol: String,
      clusterCols: Seq[String],
      order: Seq[Column],
      isTombstone: Column,
      sourceWins: Boolean = false): DataFrame = {
    val pri = "__graft_pri"
    val (unioned, tomb, ord) =
      if (!sourceWins) (alignedUnion(target, change), isTombstone, order)
      else (alignedUnion(target.withColumn(pri, lit(0)),
          change.withColumn(pri, lit(1))),
        isTombstone && col(pri) === 1, col(pri).desc +: order)
    val w = Window.partitionBy((clusterCols :+ keyCol).map(col): _*)
      .orderBy(ord: _*)
    val whole = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val out = unioned.repartition(clusterCols.map(col): _*)
      .select(col("*"),
        max(when(tomb, 1).otherwise(0)).over(whole).as("__graft_tomb"),
        row_number().over(w).as("__graft_rn"))
      .filter(col("__graft_tomb") === 0 && col("__graft_rn") === 1)
      .drop("__graft_tomb", "__graft_rn")
    if (sourceWins) out.drop(pri) else out
  }

  /** CDC change feed — classify what the night's merge DID to each key:
    * `insert` (key absent before), `delete` (key absent after), `update`
    * (present both sides, any compared column differs null-safely), or
    * `unchanged` (emitted only when `includeUnchanged`). The reference
    * pipeline overwrites the table and keeps no record of what changed
    * (`incremental_etl_v1.py:184-188`); downstream consumers (cache
    * invalidation, reverse ETL, audit) need exactly this feed, which is
    * standard in warehouse engines (Delta CDF, BigQuery `APPENDS`).
    *
    * `target` is the PRE-merge table (one row per key — the warehouse
    * invariant the merge itself maintains); `merged` is the post-merge
    * result. Presence is tracked with literal markers, not value
    * nullness, so an all-NULL row is still "present".
    *
    * Scale: one full-outer hash join on the key — the minimum for a
    * diff — shuffling only `keyCol` + the compared columns, never the
    * full row width. Paired with [[mergePartitionedPlan]] (feed the
    * pruned target slice and its merged result) the cost drops to
    * O(touched partitions), since untouched keys are unchanged by
    * construction.
    */
  def changeFeed(target: DataFrame, merged: DataFrame, keyCol: String,
      compareCols: Seq[String], includeUnchanged: Boolean = false): DataFrame = {
    val oldSide = target.select(
      col(keyCol).as("__graft_old_key") +: lit(1).as("__graft_old_present") +:
        compareCols.map(c => col(c).as(s"old_$c")): _*)
    val newSide = merged.select(
      col(keyCol).as("__graft_new_key") +: lit(1).as("__graft_new_present") +:
        compareCols.map(c => col(c).as(s"new_$c")): _*)
    val differs = compareCols
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val out = oldSide
      .join(newSide, col("__graft_old_key") <=> col("__graft_new_key"), "full_outer")
      .withColumn("change_type",
        when(col("__graft_old_present").isNull, lit("insert"))
          .when(col("__graft_new_present").isNull, lit("delete"))
          .when(differs, lit("update"))
          .otherwise(lit("unchanged")))
      .withColumn(keyCol, coalesce(col("__graft_old_key"), col("__graft_new_key")))
      .select(col(keyCol) +: col("change_type") +:
        compareCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
    if (includeUnchanged) out else out.filter(col("change_type") =!= "unchanged")
  }

  /** PARTITION-PRUNED incremental merge — the warehouse-scale form of the
    * reference's nightly read-modify-FULL-overwrite
    * (`incremental_etl_v1.py:184-188`, `helper_functions.py:192-196`). At
    * 100 TB a nightly change-set touches a sliver of partitions; rewriting
    * the whole table every night is the single biggest cost line of the
    * production shape. This path:
    *
    *   1. resolves the TOUCHED partition set = partitions owning any
    *      changed key today (covers rows moving OUT of their old
    *      partition, and tombstones whose marker row carries no partition
    *      value) ∪ partitions the non-tombstone change rows write INTO
    *      (covers rows moving IN or newly inserted);
    *   2. reads ONLY those partitions of the target (directory-level
    *      partition pruning; the touched-set resolution itself scans just
    *      the (key, partition) column pair — column-pruned, never the
    *      full width);
    *   3. runs the standard [[merge]] over that slice ∪ change — every
    *      version of every changed key lives in the slice by step 1, so
    *      latest-wins/tombstone semantics are exactly [[merge]]'s;
    *   4. writes survivors back with DYNAMIC partition overwrite, so only
    *      the touched partitions' directories are replaced;
    *   5. deletes the directory of any touched partition whose rows were
    *      ALL tombstoned (dynamic overwrite cannot express an
    *      empty-partition rewrite — absent output leaves stale files).
    *
    * Cost: one column-pruned key-locate scan + touched-partition reads +
    * one key shuffle over (slice ∪ change), vs a full-table read AND
    * rewrite. The driver-side `collect()` is the touched partition-VALUE
    * list — metadata-scale by the definition of a partition column. A
    * maintained key→partition index relation could replace the locate
    * scan; with the key as (or functionally determining) the partition
    * column the locate scan is itself partition-pruned.
    *
    * Returns the touched partition values (null = the default partition)
    * for observability / audit.
    */
  /** Steps 1–3 of [[mergePartitioned]] without the write: resolves the
    * touched partition set and builds the merged-survivors frame over the
    * PRUNED target slice. Exposed so plan evidence (`PlanDump`) and tests
    * can inspect the slice scan — its `PartitionFilters` on `partitionCol`
    * IS the claim that untouched partitions are never read.
    */
  def mergePartitionedPlan(
      spark: SparkSession,
      warehouseDir: String,
      table: String,
      change: DataFrame,
      keyCol: String,
      partitionCol: String,
      order: Seq[Column],
      isTombstone: Column): (Seq[Any], DataFrame) = {
    val target = graft.io.Tables.readWarehouse(spark, warehouseDir, table)
    val changeKeys = change.select(col(keyCol).as("__graft_chg_key")).distinct()
    val fromTarget = target
      .join(changeKeys, col(keyCol) <=> col("__graft_chg_key"), "left_semi")
      .select(col(partitionCol)).distinct()
    val fromChange = change.filter(!isTombstone)
      .select(col(partitionCol)).distinct()
    val touched: Seq[Any] =
      fromTarget.union(fromChange).distinct().collect().map(_.get(0)).toSeq
    if (touched.isEmpty) return (Nil, null)

    val (nullTouched, valsTouched) = touched.partition(_ == null)
    val inVals =
      if (valsTouched.isEmpty) lit(false)
      else col(partitionCol).isin(valsTouched: _*)
    val sliceFilter =
      if (nullTouched.nonEmpty) inVals || col(partitionCol).isNull else inVals
    (touched, merge(target.filter(sliceFilter), change, keyCol, order, isTombstone))
  }

  /** Like [[mergePartitionedIndexed]] but locating keys by a target scan.
    * If a key-locate index ([[buildKeyIndex]]) exists beside the table it
    * is maintained in the same commit — a caller mixing the indexed and
    * non-indexed paths on one table must never leave the index stale
    * (a stale index silently misses touched partitions on the NEXT
    * indexed merge, which is wrong output, not just wasted IO).
    */
  def mergePartitioned(
      spark: SparkSession,
      warehouseDir: String,
      table: String,
      change: DataFrame,
      keyCol: String,
      partitionCol: String,
      order: Seq[Column],
      isTombstone: Column): Seq[Any] = {
    val (touched, plan) = mergePartitionedPlan(
      spark, warehouseDir, table, change, keyCol, partitionCol, order, isTombstone)
    val maintainIdx =
      graft.io.Tables.warehouseExists(spark, warehouseDir, keyIndexName(table))
    writeBack(spark, warehouseDir, table, partitionCol, touched, plan,
      indexKeyCol = if (maintainIdx) Some(keyCol) else None)
  }

  /** Shared tail of the partitioned merge paths — a STAGE → MANIFEST →
    * SWAP commit, so a crash anywhere leaves the table either fully old
    * or recoverable-forward to fully new (never a silent half-state):
    *
    *   1. STAGE: persist the merged survivors once (the survivor probe
    *      must not re-read the table, and the merge must not recompute)
    *      and write them — touched partitions only — to a `._staged`
    *      sibling directory. The live table is NOT touched; a crash here
    *      loses nothing ([[recoverMergeCommit]] just sweeps the debris).
    *   2. MANIFEST: atomically (tmp + rename) write `._merge_manifest`
    *      beside the table, listing every touched partition directory of
    *      the table AND (when `indexKeyCol` is set) of the key-locate
    *      index, each tagged survived (swap in the staged directory) or
    *      emptied (every key tombstoned — delete; a dir-replacement swap
    *      cannot express an empty partition, exactly like dynamic
    *      overwrite). The manifest rename IS the commit point.
    *   3. SWAP: per touched directory, delete-live + rename-staged (a
    *      metadata-only window, vs the long data-write window of in-place
    *      dynamic overwrite); then remove staging and finally the
    *      manifest. Every step is idempotent given the manifest, so a
    *      crash mid-swap is completed — not repeated — by
    *      [[recoverMergeCommit]].
    *
    * With `indexKeyCol` set the index's partitions ride the SAME manifest,
    * so data and index commit or recover together — the index is never
    * durably stale relative to the table.
    */
  private def writeBack(
      spark: SparkSession,
      warehouseDir: String,
      table: String,
      partitionCol: String,
      touched: Seq[Any],
      plan: DataFrame,
      indexKeyCol: Option[String]): Seq[Any] = {
    if (touched.isEmpty) return Nil
    val merged = plan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val survived: Set[Any] =
      merged.select(col(partitionCol)).distinct().collect().map(_.get(0)).toSet
    stagePartitioned(merged, warehouseDir, table, partitionCol)
    indexKeyCol.foreach { k =>
      stagePartitioned(merged.select(col(k), col(partitionCol)),
        warehouseDir, keyIndexName(table), partitionCol)
    }
    merged.unpersist()
    val tables = table +: indexKeyCol.map(_ => keyIndexName(table)).toSeq
    val entries = for {
      t <- tables
      v <- touched
    } yield MergeCommitEntry(t, partitionDirName(partitionCol, v),
      survived.contains(v))
    writeMergeManifest(spark, warehouseDir, table, entries)
    completeMergeCommit(spark, warehouseDir, table)
    touched
  }

  // ------------------------------------------------------------------
  // Merge commit protocol (stage → manifest → swap)
  // ------------------------------------------------------------------

  /** One touched partition directory of one relation in a merge commit. */
  private[graft] case class MergeCommitEntry(
      table: String, dirName: String, survived: Boolean)

  private[graft] def stagedName(table: String): String = s"$table._staged"

  /** Manifest location for a partitioned-merge commit on `table`. */
  def mergeManifestPath(warehouseDir: String, table: String): String =
    s"$warehouseDir/$table._merge_manifest"

  private def hadoopFs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def partitionDirName(partitionCol: String, v: Any): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .getPartitionPathString(partitionCol, if (v == null) null else v.toString)

  /** Stage a frame's partitions under the relation's `._staged` sibling
    * (fresh — any debris from a pre-commit crash is replaced).
    */
  private def stagePartitioned(df: DataFrame, warehouseDir: String,
      table: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol)
      .parquet(s"$warehouseDir/${stagedName(table)}")

  /** Atomically publish the commit manifest (write tmp, rename into
    * place). Format: one `survived|emptied TAB table TAB dirName` line per
    * touched partition directory. The rename is the commit point — before
    * it the live table is untouched; after it [[completeMergeCommit]] can
    * always roll the swap forward.
    */
  private[graft] def writeMergeManifest(spark: SparkSession, warehouseDir: String,
      table: String, entries: Seq[MergeCommitEntry]): Unit = {
    val path = mergeManifestPath(warehouseDir, table)
    val (fs, p) = hadoopFs(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
    val out = fs.create(tmp, true)
    try {
      val body = entries.map { e =>
        val kind = if (e.survived) "survived" else "emptied"
        s"$kind\t${e.table}\t${e.dirName}"
      }.mkString("", "\n", "\n")
      out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"manifest publish failed: $tmp -> $p")
  }

  private[graft] def readMergeManifest(spark: SparkSession, warehouseDir: String,
      table: String): Seq[MergeCommitEntry] = {
    val (fs, p) = hadoopFs(spark, mergeManifestPath(warehouseDir, table))
    if (!fs.exists(p)) return Nil
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    text.linesIterator.filter(_.nonEmpty).map { line =>
      val Array(kind, t, dir) = line.split("\t", 3)
      MergeCommitEntry(t, dir, kind == "survived")
    }.toSeq
  }

  /** Roll a manifested commit forward: per entry, swap the staged
    * partition directory into the live table (survived) or delete the
    * live directory (emptied); then remove staging and, last, the
    * manifest. Idempotent: a survived entry whose staged directory is
    * already gone was swapped by a previous attempt and is skipped (its
    * live directory is the NEW data — never re-deleted); emptied deletes
    * and the final cleanup re-run harmlessly. No-op without a manifest.
    */
  private[graft] def completeMergeCommit(spark: SparkSession,
      warehouseDir: String, table: String): Boolean = {
    val entries = readMergeManifest(spark, warehouseDir, table)
    if (entries.isEmpty) return false
    val (fs, manifest) = hadoopFs(spark, mergeManifestPath(warehouseDir, table))
    entries.foreach { e =>
      val live = new org.apache.hadoop.fs.Path(s"$warehouseDir/${e.table}/${e.dirName}")
      val staged = new org.apache.hadoop.fs.Path(
        s"$warehouseDir/${stagedName(e.table)}/${e.dirName}")
      if (e.survived) {
        if (fs.exists(staged)) {
          fs.delete(live, true)
          if (!fs.rename(staged, live))
            throw new java.io.IOException(s"merge swap failed: $staged -> $live")
        } // else: already swapped by an earlier (crashed) attempt
      } else fs.delete(live, true)
    }
    entries.map(_.table).distinct.foreach { t =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$warehouseDir/${stagedName(t)}"), true)
    }
    fs.delete(manifest, false)
    true
  }

  /** Crash recovery for the partitioned merge paths. Call on startup (or
    * before reading a table a merge job may have died on):
    *   - manifest present → the commit point was reached; the swap is
    *     rolled FORWARD to completion (returns true);
    *   - no manifest → any `._staged` debris is from a pre-commit crash;
    *     the live table was never touched, so the debris is swept and the
    *     table stands as before the failed merge (returns false — re-run
    *     the merge).
    */
  def recoverMergeCommit(spark: SparkSession, warehouseDir: String,
      table: String): Boolean = {
    if (completeMergeCommit(spark, warehouseDir, table)) return true
    val (fs, _) = hadoopFs(spark, warehouseDir)
    Seq(table, keyIndexName(table)).foreach { t =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$warehouseDir/${stagedName(t)}"), true)
    }
    false
  }

  /** Warehouse-wide [[recoverMergeCommit]]: finds every merge manifest
    * under `warehouseDir` and rolls it forward, then sweeps orphan
    * `._staged` directories (pre-commit crash debris with no manifest).
    * Call once on startup (e.g. [[Pipeline.run]]) — a listing of the
    * warehouse root plus per-crash work only.
    */
  def recoverAllMergeCommits(spark: SparkSession, warehouseDir: String): Int = {
    val (fs, root) = hadoopFs(spark, warehouseDir)
    if (!fs.exists(root)) return 0
    val entries = fs.listStatus(root).map(_.getPath.getName)
    val recovered = entries.filter(_.endsWith("._merge_manifest"))
      .count { m =>
        completeMergeCommit(spark, warehouseDir,
          m.stripSuffix("._merge_manifest"))
      }
    entries.filter(_.endsWith("._staged")).foreach { d =>
      val table = d.stripSuffix("._staged")
      val manifest = new org.apache.hadoop.fs.Path(
        mergeManifestPath(warehouseDir, table))
      // the key-locate index's staging rides the DATA table's manifest
      val dataManifest = new org.apache.hadoop.fs.Path(mergeManifestPath(
        warehouseDir, table.stripSuffix("__keyidx")))
      if (!fs.exists(manifest) && !fs.exists(dataManifest))
        fs.delete(new org.apache.hadoop.fs.Path(s"$warehouseDir/$d"), true)
    }
    recovered
  }

  // ------------------------------------------------------------------
  // Key-locate INDEX: replacing the locate scan with a metadata relation
  // ------------------------------------------------------------------

  /** Name of the key-locate index relation maintained beside `table`. */
  def keyIndexName(table: String): String = s"${table}__keyidx"

  /** Build (or rebuild) the key→partition locate index for a partitioned
    * warehouse table: the (key, partition) projection of the table, stored
    * partitioned by the SAME partition column so [[mergePartitionedIndexed]]
    * can maintain it with the same dynamic-overwrite/delete moves as the
    * data. This is the "maintained key→partition index relation" the
    * [[mergePartitionedPlan]] scaladoc calls for: the nightly
    * touched-partition resolution then joins change keys against this slim
    * two-column relation instead of scanning the table — at 100 TB the
    * index is ~10^3-10^4× smaller than the table (two thin columns vs the
    * full row width), so key location becomes a metadata-scale job, and
    * the ONLY reads of the data table are the pruned touched partitions.
    *
    * Contract: the index is exact only while every merge goes through
    * [[mergePartitionedIndexed]] (which maintains it transactionally with
    * the data write) — out-of-band writes to the table require a rebuild.
    * One row per key (the post-merge warehouse invariant), so the index is
    * also the table's key inventory.
    */
  def buildKeyIndex(spark: SparkSession, warehouseDir: String, table: String,
      keyCol: String, partitionCol: String): Unit = {
    val idx = keyIndexName(table)
    val base = new org.apache.hadoop.fs.Path(s"$warehouseDir/$idx")
    base.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(base, true)
    graft.io.Tables.writeWarehousePartitioned(
      graft.io.Tables.readWarehouse(spark, warehouseDir, table)
        .select(col(keyCol), col(partitionCol)),
      warehouseDir, idx, Seq(partitionCol))
  }

  /** Touched-partition resolution against the key-locate index — exposed
    * (rather than inlined) so plan evidence and specs can pin its scan
    * set: the physical plan must read ONLY `table__keyidx`, never the
    * table. Same set semantics as [[mergePartitionedPlan]] step 1:
    * partitions owning any changed key (from the index) ∪ partitions
    * non-tombstone change rows write into.
    */
  def touchedPartitionsIndexed(
      spark: SparkSession,
      warehouseDir: String,
      table: String,
      change: DataFrame,
      keyCol: String,
      partitionCol: String,
      isTombstone: Column): DataFrame = {
    val idx = graft.io.Tables.readWarehouse(spark, warehouseDir, keyIndexName(table))
    val changeKeys = change.select(col(keyCol).as("__graft_chg_key")).distinct()
    val fromIdx = idx
      .join(changeKeys, col(keyCol) <=> col("__graft_chg_key"), "left_semi")
      .select(col(partitionCol))
    val fromChange = change.filter(!isTombstone).select(col(partitionCol))
    fromIdx.union(fromChange).distinct()
  }

  /** [[mergePartitioned]] with the locate scan replaced by the key-locate
    * index ([[buildKeyIndex]]): identical output and write-amplification
    * contract, but step 1 (touched-partition resolution) reads the slim
    * index relation instead of the table, and step 4 maintains the index
    * with the same dynamic-overwrite + emptied-directory moves — so the
    * nightly job's data-table reads are EXACTLY the touched partitions,
    * with no full-table pass anywhere (`MergeKeyIndexSpec` pins both the
    * locate plan's scan set and index ≡ table-projection after every move).
    */
  def mergePartitionedIndexed(
      spark: SparkSession,
      warehouseDir: String,
      table: String,
      change: DataFrame,
      keyCol: String,
      partitionCol: String,
      order: Seq[Column],
      isTombstone: Column): Seq[Any] = {
    val touched: Seq[Any] = touchedPartitionsIndexed(
      spark, warehouseDir, table, change, keyCol, partitionCol, isTombstone)
      .collect().map(_.get(0)).toSeq
    if (touched.isEmpty) return Nil
    val target = graft.io.Tables.readWarehouse(spark, warehouseDir, table)
    val (nullTouched, valsTouched) = touched.partition(_ == null)
    val inVals =
      if (valsTouched.isEmpty) lit(false)
      else col(partitionCol).isin(valsTouched: _*)
    val sliceFilter =
      if (nullTouched.nonEmpty) inVals || col(partitionCol).isNull else inVals
    val plan = merge(target.filter(sliceFilter), change, keyCol, order, isTombstone)
    writeBack(spark, warehouseDir, table, partitionCol, touched, plan,
      indexKeyCol = Some(keyCol))
  }
}
