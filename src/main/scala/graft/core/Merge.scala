package graft.core

import org.apache.spark.sql.{Column, DataFrame}
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
    * full row width. Fed a pruned target slice and its merged result
    * (the touched partitions of a manifest merge) the cost drops to
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
}
