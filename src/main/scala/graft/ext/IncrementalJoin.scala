package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode, lit, sequence, sum}

import graft.io.{PhaseLedger, Tables}

/** Incremental JOIN maintenance — the join half of the materialized-view
  * story ([[IncrementalAgg]] is the aggregate half). A warehouse serves
  * standing joined views (fact ⋈ dimension, orders ⋈ customers); the
  * reference's nightly shape would recompute the full join per run. For
  * APPEND-ONLY inputs the classic delta rule makes maintenance
  * incremental:
  *
  *   Δ(L ⋈ R) = ΔL ⋈ R₀  ∪  L₀ ⋈ ΔR  ∪  ΔL ⋈ ΔR
  *
  * (L₀/R₀ = state BEFORE the batch). Each new (l, r) pair has exactly one
  * of its sides in a delta-first position, so the three terms partition
  * the new output rows — appending them keeps the stored join exactly the
  * join of the accumulated inputs ([[graft.ext]] IncrementalJoinSpec pins
  * chain ≡ from-scratch).
  *
  * Scale: all three state relations live BUCKETED on the join key —
  * `{name}_left`, `{name}_right` (the accumulated inputs) and
  * `{name}_out` (the materialized join, bucketed for downstream
  * consumers). The two big delta terms therefore plan with an Exchange on
  * the DELTA side only — the stored side reads co-located buckets
  * (`SelectedBucketsCount`, zero state-side shuffle), so nightly cost is
  * O(Δ ⋈ touched buckets), never O(L ⋈ R); the materialized output is
  * never rescanned (append-only `insertInto`). Tombstones/updates are out
  * of scope by design — retractions need counted (multiset) state; route
  * deleting tables through [[graft.core.Merge]] and re-derive instead.
  *
  * Contract: `left`/`right` column sets must be disjoint apart from
  * `keyCol` (standard join-view hygiene; enforced at create).
  */
object IncrementalJoin {

  private def joined(l: DataFrame, r: DataFrame, keyCol: String): DataFrame =
    l.join(r, Seq(keyCol))

  /** Seed the three bucketed state relations from the first batches. */
  def createStored(spark: SparkSession, warehouseDir: String, name: String,
      left: DataFrame, right: DataFrame, keyCol: String, numBuckets: Int): Unit = {
    val overlap = left.columns.toSet.intersect(right.columns.toSet) - keyCol
    require(overlap.isEmpty, s"non-key column overlap: $overlap")
    Tables.writeWarehouseBucketed(left, warehouseDir, s"${name}_left",
      keyCol, numBuckets)
    Tables.writeWarehouseBucketed(right, warehouseDir, s"${name}_right",
      keyCol, numBuckets)
    val l0 = Tables.readWarehouseBucketed(spark, s"${name}_left")
    val r0 = Tables.readWarehouseBucketed(spark, s"${name}_right")
    Tables.writeWarehouseBucketed(joined(l0, r0, keyCol), warehouseDir,
      s"${name}_out", keyCol, numBuckets)
  }

  /** Nightly maintenance: append the delta-rule terms to the stored join,
    * then the deltas to the stored inputs. The delta output is
    * localCheckpoint-materialized BEFORE any append so no term can
    * observe a state relation mid-append; inserts are position-based, so
    * every write re-projects into the stored column order. Deltas are
    * drift-guarded against the stored side schemas
    * ([[graft.core.SchemaGuard]]; `align=true` coerces instead of
    * rejecting).
    */
  def appendStored(spark: SparkSession, warehouseDir: String, name: String,
      dLeft: DataFrame, dRight: DataFrame, keyCol: String,
      align: Boolean = false): Unit = {
    val l0 = Tables.readWarehouseBucketed(spark, s"${name}_left")
    val r0 = Tables.readWarehouseBucketed(spark, s"${name}_right")
    val dl = graft.core.SchemaGuard.conform(l0.schema, dLeft, align,
      s"${name}_left")
    val dr = graft.core.SchemaGuard.conform(r0.schema, dRight, align,
      s"${name}_right")
    val outCols = Tables.readWarehouseBucketed(spark, s"${name}_out").columns
    val delta = joined(dl, r0, keyCol)
      .unionByName(joined(l0, dr, keyCol))
      .unionByName(joined(dl, dr, keyCol))
      .selectExpr(outCols.map(c => s"`$c`"): _*)
      .localCheckpoint(true)
    if (!delta.isEmpty)
      delta.write.mode("append").insertInto(s"${name}_out")
    appendSide(spark, name, "left", dl)
    appendSide(spark, name, "right", dr)
  }

  private def appendSide(spark: SparkSession, name: String, side: String,
      d: DataFrame): Unit = {
    val cols = Tables.readWarehouseBucketed(spark, s"${name}_$side").columns
    val proj = d.selectExpr(cols.map(c => s"`$c`"): _*)
    if (!proj.isEmpty)
      proj.write.mode("append").insertInto(s"${name}_$side")
  }

  /** LEFT-delta append with PER-ROW exactly-once replay safety — the
    * foreachBatch form ([[graft.streaming.StreamingIngest.joinLeftBatch]]).
    * [[appendStored]]'s two appends (`_out` then `_left`) are clean-commit
    * only: a crash between them would let a replay whose guard probes
    * `_left` re-append the same delta to `_out` (duplicate join rows).
    * Here EACH relation's append is guarded by an anti-join on its OWN
    * committed `idCol` values, so whichever append a crash interrupted is
    * the only one a replay re-runs:
    *   - `_out`: batch rows whose id is absent from the materialized
    *     output join the stored right side and append (an id with zero
    *     right matches recomputes to an empty delta on replay — inert);
    *   - `_left`: batch rows whose id is absent from the stored left.
    * `idCol` must be unique per left row (the fact stream's natural key).
    * The `_out` probe is one column-pruned id scan — the same price
    * [[Relevance.appendTextIndexSafe]] pays for idempotence on plain
    * bucketed parquet.
    */
  def appendLeftSafe(spark: SparkSession, warehouseDir: String, name: String,
      batch: DataFrame, keyCol: String, idCol: String,
      align: Boolean = false): Unit = {
    val l0 = Tables.readWarehouseBucketed(spark, s"${name}_left")
    val b = graft.core.SchemaGuard.conform(l0.schema, batch, align,
      s"${name}_left")
    val r0 = Tables.readWarehouseBucketed(spark, s"${name}_right")
    val out0 = Tables.readWarehouseBucketed(spark, s"${name}_out")
    val freshOut = b.join(out0.select(col(idCol)).distinct(),
        Seq(idCol), "left_anti")
      .localCheckpoint(true)
    if (!freshOut.isEmpty) {
      val delta = joined(freshOut, r0, keyCol)
        .selectExpr(out0.columns.map(c => s"`$c`"): _*)
        .localCheckpoint(true)
      if (!delta.isEmpty)
        delta.write.mode("append").insertInto(s"${name}_out")
    }
    val freshLeft = b.join(l0.select(col(idCol)).distinct(),
        Seq(idCol), "left_anti")
      .selectExpr(l0.columns.map(c => s"`$c`"): _*)
      .localCheckpoint(true)
    if (!freshLeft.isEmpty)
      freshLeft.write.mode("append").insertInto(s"${name}_left")
  }

  /** The maintained join view (bucketed on the key for downstream reuse). */
  def readStored(spark: SparkSession, name: String): DataFrame =
    Tables.readWarehouseBucketed(spark, s"${name}_out")

  // ------------------------------------------------------------------
  // COUNTED (multiset) state — the retraction-capable completion
  // ------------------------------------------------------------------

  /** Multiplicity column carried by the counted state relations. */
  val MultCol = "__graft_mult"

  /** Tag a batch of rows as insertions (+1 each) for the counted API. */
  def inserts(df: DataFrame): DataFrame = df.withColumn(MultCol, lit(1L))

  /** Tag a batch of rows as retractions (−1 each): the full row being
    * deleted, exactly as it was inserted — the shape a [[graft.core.Merge]]
    * tombstone feed or CDC `delete` record provides.
    */
  def deletes(df: DataFrame): DataFrame = df.withColumn(MultCol, lit(-1L))

  private def requireMult(df: DataFrame, side: String): Unit =
    require(df.columns.contains(MultCol),
      s"$side delta must carry $MultCol (wrap with inserts()/deletes())")

  /** Counted join of two multiplicity-carrying relations: output
    * multiplicity is the PRODUCT of the sides' (bag algebra — the join
    * of m copies of l with n copies of r contains m·n copies of (l,r)).
    */
  private def joinedCounted(l: DataFrame, r: DataFrame, keyCol: String): DataFrame = {
    val lm = l.withColumnRenamed(MultCol, "__graft_ml")
    val rm = r.withColumnRenamed(MultCol, "__graft_mr")
    lm.join(rm, Seq(keyCol))
      .withColumn(MultCol, col("__graft_ml") * col("__graft_mr"))
      .drop("__graft_ml", "__graft_mr")
  }

  /** Batch-provenance column carried by the counted state relations: every
    * contribution row names the ingest batch that produced it, which is
    * what makes replayed appends READ-INERT (see [[readStoredCounted]]).
    */
  val BatchCol = "__graft_batch"

  /** Fold a signed relation to ONE net row per distinct data row (zeros
    * dropped). Every write into counted state goes through this, so a
    * (batch, data row) pair is unique on disk — the invariant the
    * read-side `distinct` replay guard rests on.
    */
  private def preFold(df: DataFrame): DataFrame = {
    val dataCols = df.columns.filterNot(c => c == MultCol || c == BatchCol)
    df.groupBy(dataCols.map(col): _*)
      .agg(sum(col(MultCol)).as(MultCol))
      .filter(col(MultCol) =!= 0)
  }

  /** Seed COUNTED state from the first batches (both taken as
    * insertions). Same three bucketed relations as [[createStored]], each
    * carrying [[MultCol]] + [[BatchCol]], plus the `{name}_applied`
    * phase ledger ([[PhaseLedger]], reset first); the delta rule below
    * then handles deletes as first-class signed batches, which the
    * append-only form cannot — the standard incremental-view-maintenance
    * completion, and what lets the materialized join compose with
    * [[graft.core.Merge]] tombstones instead of forcing a re-derive.
    */
  def createStoredCounted(spark: SparkSession, warehouseDir: String,
      name: String, left: DataFrame, right: DataFrame, keyCol: String,
      numBuckets: Int): Unit = {
    val overlap = left.columns.toSet.intersect(right.columns.toSet) - keyCol
    require(overlap.isEmpty, s"non-key column overlap: $overlap")
    def seeded(df: DataFrame) =
      preFold(inserts(df)).withColumn(BatchCol, lit("base"))
    PhaseLedger.reset(spark, warehouseDir, name)
    Tables.writeWarehouseBucketed(seeded(left), warehouseDir,
      s"${name}_left", keyCol, numBuckets)
    Tables.writeWarehouseBucketed(seeded(right), warehouseDir,
      s"${name}_right", keyCol, numBuckets)
    val l0 = Tables.readWarehouseBucketed(spark, s"${name}_left")
    val r0 = Tables.readWarehouseBucketed(spark, s"${name}_right")
    Tables.writeWarehouseBucketed(
      preFold(joinedCounted(l0.drop(BatchCol), r0.drop(BatchCol), keyCol))
        .withColumn(BatchCol, lit("base")),
      warehouseDir, s"${name}_out", keyCol, numBuckets)
    PhaseLedger.mark(spark, warehouseDir, name, "base", "right")
  }

  /** Nightly COUNTED maintenance. `dLeft`/`dRight` are SIGNED delta
    * relations (each row tagged via [[inserts]]/[[deletes]]; a night
    * mixing both is one `unionByName`). The bag-algebra delta rule is
    * identical in shape to the append-only one —
    *
    *   Δ(L ⋈ R) = ΔL ⋈ R₀  ∪  L₀ ⋈ ΔR  ∪  ΔL ⋈ ΔR
    *
    * — with multiplicities MULTIPLYING through each join, so a −1 left
    * row times its +1 right matches contributes −1 output rows, exactly
    * cancelling the earlier +1 contributions at read. Everything stays
    * append-only on disk (contribution rows, never rewrites), the same
    * log-structured trick as [[LangModel]]'s delta counts; the stored
    * side again contributes no Exchange (bucketed on the key).
    *
    * REPLAY SAFETY (at-least-once runners, crash at any point): the
    * append runs as three ledgered PHASES — out, left, right, each
    * marked in `{name}_applied` after its append. A replay skips
    * completed phases, so the state relations a phase's delta terms read
    * are bit-identical to the crashed attempt's inputs, the re-appended
    * rows are byte-identical to the half-written ones, and the read
    * side's `distinct` over (batch, data row, mult) collapses them. A
    * fully-ledgered batch short-circuits. `batchTag` must uniquely name
    * the batch (foreachBatch batch id, nightly run id).
    *
    * Contract: a retraction must match an accumulated insertion
    * one-for-one (delete what exists, at most as many times as it
    * exists) — the warehouse CDC invariant. Net-negative multiplicities
    * are clamped out at read rather than resurrected.
    */
  def appendStoredCounted(spark: SparkSession, warehouseDir: String,
      name: String, dLeft: DataFrame, dRight: DataFrame, keyCol: String,
      batchTag: String, align: Boolean = false): Unit = {
    requireMult(dLeft, "left"); requireMult(dRight, "right")
    require(batchTag.nonEmpty && batchTag != "base", s"bad batchTag: $batchTag")
    if (PhaseLedger.marked(spark, warehouseDir, name, batchTag, "right")) return
    val l0 = Tables.readWarehouseBucketed(spark, s"${name}_left")
    val r0 = Tables.readWarehouseBucketed(spark, s"${name}_right")
    val sideSchema = (rel: DataFrame) => org.apache.spark.sql.types.StructType(
      rel.schema.fields.filterNot(_.name == BatchCol))
    val dl = graft.core.SchemaGuard.conform(sideSchema(l0), dLeft, align,
      s"${name}_left")
    val dr = graft.core.SchemaGuard.conform(sideSchema(r0), dRight, align,
      s"${name}_right")
    val outCols = Tables.readWarehouseBucketed(spark, s"${name}_out").columns
    if (!PhaseLedger.marked(spark, warehouseDir, name, batchTag, "out")) {
      val delta = preFold(
        joinedCounted(dl, r0.drop(BatchCol), keyCol)
          .unionByName(joinedCounted(l0.drop(BatchCol), dr, keyCol))
          .unionByName(joinedCounted(dl, dr, keyCol)))
        .withColumn(BatchCol, lit(batchTag))
        .selectExpr(outCols.map(c => s"`$c`"): _*)
        .localCheckpoint(true)
      if (!delta.isEmpty)
        delta.write.mode("append").insertInto(s"${name}_out")
      PhaseLedger.mark(spark, warehouseDir, name, batchTag, "out")
    }
    // the folded side deltas are aggregates, consumed twice by appendSide
    // (emptiness probe + the append) — materialize once so the groupBy
    // does not run twice per side
    if (!PhaseLedger.marked(spark, warehouseDir, name, batchTag, "left")) {
      appendSide(spark, name, "left",
        preFold(dl).withColumn(BatchCol, lit(batchTag)).localCheckpoint(true))
      PhaseLedger.mark(spark, warehouseDir, name, batchTag, "left")
    }
    appendSide(spark, name, "right",
      preFold(dr).withColumn(BatchCol, lit(batchTag)).localCheckpoint(true))
    PhaseLedger.mark(spark, warehouseDir, name, batchTag, "right")
  }

  /** The counted view: contribution rows dedup by full-row `distinct`
    * (a crashed-and-replayed phase's re-appended copies collapse — a
    * (batch, data row) pair is unique by [[preFold]], so the distinct
    * removes EXACTLY replay duplicates), then fold by per-row
    * multiplicity sum — both aggregates run co-located on the key bucket
    * layout (grouping keys ⊇ the bucket key: NO Exchange) — and rows
    * with positive net multiplicity re-expand to that many copies (exact
    * multiset semantics; net ≤ 0 rows vanish). Cancelled rows cost
    * state-file bytes until [[compactStoredCounted]] folds them away.
    */
  def readStoredCounted(spark: SparkSession, name: String): DataFrame = {
    val out = Tables.readWarehouseBucketed(spark, s"${name}_out")
    foldCounted(out)
  }

  /** TIME-TRAVEL read of the counted view AS OF a historical batch: fold
    * only the contribution rows whose batch tag is in `batches` (the
    * caller lists every tag up to the as-of point, `"base"` included —
    * the same convention as [[IncrementalAgg.readRetractableAsOf]]).
    * Because every output contribution is tagged with the batch that
    * DERIVED it, and batch N's delta terms read exactly the state
    * accumulated through batch N−1, the filtered fold reproduces the
    * view bit-for-bit as it stood after that batch — deletes applied
    * later are not yet cancelled, inserts applied later are absent.
    * Unlike the aggregate twin this is a filter, not partition pruning
    * (`_out` is bucketed on the JOIN key so the serving fold stays
    * Exchange-free; batch provenance rides as a column) — the scan is
    * state-sized, never corpus-sized, and min/max batch-tag stats in the
    * parquet footers still skip fully out-of-range row groups.
    * Unavailable after [[compactStoredCounted]] (provenance collapses to
    * one `compacted` tag).
    */
  def readStoredCountedAsOf(spark: SparkSession, name: String,
      batches: Seq[String]): DataFrame = {
    val out = Tables.readWarehouseBucketed(spark, s"${name}_out")
    foldCounted(out.filter(col(BatchCol).isin(batches: _*)))
  }

  private def foldCounted(df: DataFrame): DataFrame = {
    val dataCols = df.columns.filterNot(c => c == MultCol || c == BatchCol)
    df.distinct()
      .groupBy(dataCols.map(col): _*)
      .agg(sum(col(MultCol)).as(MultCol))
      .filter(col(MultCol) > 0)
      .withColumn("__graft_copy", explode(sequence(lit(1L), col(MultCol))))
      .drop(MultCol, "__graft_copy")
  }

  /** Fold each counted state relation to one net row per distinct data
    * row (dropping cancelled pairs, collapsing batch provenance to one
    * `compacted` tag). Pure representation change —
    * [[readStoredCounted]] is invariant — that reclaims the bytes
    * retraction churn leaves behind.
    *
    * Run ONLY between ingest runs with no in-flight (partially-ledgered)
    * batch: compaction erases the per-batch provenance the replay
    * `distinct` keys on, so an interrupted batch replayed AFTER its rows
    * were folded away would double-count (fully-ledgered batches stay
    * safe — the ledger short-circuits them and is itself preserved).
    * Same maintenance-window contract as
    * [[IncrementalAgg.compactDeltaState]].
    *
    * Durability: each fold is FULLY written to a `._fold` staging path
    * (plain parquet, `_SUCCESS`-marked) before its bucketed relation is
    * rewritten from that on-disk copy — the state is never represented
    * only by executor memory. A crash mid-rewrite is repaired by
    * [[recoverCountedCompaction]]: completed staging → redo the rewrite;
    * incomplete staging (no `_SUCCESS`) → the live relation was never
    * touched, sweep the staging.
    */
  def compactStoredCounted(spark: SparkSession, warehouseDir: String,
      name: String, keyCol: String, numBuckets: Int): Unit =
    Seq(s"${name}_left", s"${name}_right", s"${name}_out").foreach { rel =>
      val df = Tables.readWarehouseBucketed(spark, rel)
      val folded = preFold(df.distinct())
        .withColumn(BatchCol, lit("compacted"))
        .selectExpr(df.columns.map(c => s"`$c`"): _*)
      folded.write.mode("overwrite").parquet(foldPath(warehouseDir, rel))
      rewriteFromFold(spark, warehouseDir, rel, keyCol, numBuckets)
    }

  private def foldPath(warehouseDir: String, rel: String) =
    s"$warehouseDir/$rel._fold"

  private def rewriteFromFold(spark: SparkSession, warehouseDir: String,
      rel: String, keyCol: String, numBuckets: Int): Unit = {
    val stage = new org.apache.hadoop.fs.Path(foldPath(warehouseDir, rel))
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Tables.writeWarehouseBucketed(spark.read.parquet(stage.toString),
      warehouseDir, rel, keyCol, numBuckets)
    fs.delete(stage, true)
  }

  /** Repair a [[compactStoredCounted]] interrupted mid-run (see its
    * durability note). Safe to call unconditionally on startup.
    */
  def recoverCountedCompaction(spark: SparkSession, warehouseDir: String,
      name: String, keyCol: String, numBuckets: Int): Unit =
    Seq(s"${name}_left", s"${name}_right", s"${name}_out").foreach { rel =>
      val stage = new org.apache.hadoop.fs.Path(foldPath(warehouseDir, rel))
      val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(stage)) {
        if (fs.exists(new org.apache.hadoop.fs.Path(stage, "_SUCCESS")))
          rewriteFromFold(spark, warehouseDir, rel, keyCol, numBuckets)
        else fs.delete(stage, true)
      }
    }
}
