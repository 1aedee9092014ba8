package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** The warehouse BOUNDARY the reference crosses into BigQuery
  * (`helper_functions.py:192-196` WRITE_TRUNCATE save,
  * `incremental_etl_v1.py:85` table scan) — extracted as a trait so the
  * pipeline's warehouse side is provably NOT parquet-shaped: the same
  * [[graft.core.Pipeline]] orchestration runs against any substrate
  * implementing these six verbs, and the contract kit
  * (`WarehouseContractKit` in test) pins what each verb must guarantee.
  *
  * Verbs, from the reference's own usage:
  *  - [[exists]]/[[read]] — the incremental path's "is the table there /
  *    scan it" probe (BQ: a metadata GET + a table scan).
  *  - [[overwrite]] — first-sight full load, WRITE_TRUNCATE semantics:
  *    whatever was there is gone, the new content IS the table, a
  *    re-run converges to the same state.
  *  - [[append]] — additive load (the engine's change-feed sinks).
  *  - [[replace]] — overwrite a table the new content was DERIVED FROM
  *    (the nightly merge reads the table it rewrites). Requires a
  *    materialization barrier: the substrate must fully stage the new
  *    content before unpublishing the old (BigQuery does this
  *    server-side; file substrates stage-then-swap).
  *  - [[recoverAll]] — heal whatever a crashed writer can leave behind,
  *    idempotent, called once at pipeline startup.
  */
trait WarehouseAdapter {
  def exists(spark: SparkSession, warehouseDir: String, table: String): Boolean
  def read(spark: SparkSession, warehouseDir: String, table: String): DataFrame
  def overwrite(df: DataFrame, warehouseDir: String, table: String): Unit
  def append(df: DataFrame, warehouseDir: String, table: String): Unit
  def replace(spark: SparkSession, warehouseDir: String, table: String,
      df: DataFrame): Unit
  def recoverAll(spark: SparkSession, warehouseDir: String): Unit
}

/** The OPTIONAL capability past the reference's truncate-shaped
  * boundary: substrates that can commit a nightly change batch as a
  * keyed merge touching only the partitions holding changed keys,
  * instead of [[WarehouseAdapter.replace]]'s full-table rewrite. This
  * is the scale path `GRAFT_MODE=merge` routes through — full-table
  * write amplification is the reference's documented scale ceiling
  * (`incremental_etl_v1.py:187` rewrites every table every night), and
  * the boundary verb set deliberately kept that contract; this trait
  * is where a substrate opts OUT of it. Semantics must be
  * bit-identical to read → [[graft.core.Merge.merge]] → replace
  * (the pipeline's 3-night equivalence spec is the definition).
  *
  * What it saves depends on how the batch falls on the layout: the
  * manifest substrate hashes keys into 8 buckets, and a night's batch
  * scattered over the key space touches every one of the 8 — such a
  * night still rewrites the whole table, only in one pass (the change
  * read once, one shuffle, one file per bucket) instead of read, merge
  * and replace. A batch clustered on few buckets rewrites only those.
  */
trait MergeCapableWarehouse { self: WarehouseAdapter =>
  /** First-sight full load laid out so [[mergeChanges]] can colocate
    * change rows with their keys' existing rows.
    */
  def mergeBootstrap(df: DataFrame, warehouseDir: String, table: String,
      keyCol: String): Unit
  /** Commit one change batch (upserts + tombstones) as a keyed merge;
    * returns (touched partition values, committed version).
    */
  def mergeChanges(spark: SparkSession, warehouseDir: String,
      table: String, change: DataFrame, keyCol: String,
      order: Seq[org.apache.spark.sql.Column],
      isTombstone: org.apache.spark.sql.Column): (Seq[Seq[String]], Int)
}

/** The default substrate — the engine's parquet warehouse, delegating
  * to [[Tables]] (scan/overwrite/append) with the staged-swap replace
  * protocol and its crash recovery. What production would point at GCS
  * under a BigQuery external layout; here the local-FS stand-in.
  */
object ParquetWarehouseAdapter extends WarehouseAdapter {
  def exists(spark: SparkSession, warehouseDir: String, table: String): Boolean =
    Tables.warehouseExists(spark, warehouseDir, table)
  def read(spark: SparkSession, warehouseDir: String, table: String): DataFrame =
    Tables.readWarehouse(spark, warehouseDir, table)
  /** Routed through the stage-then-swap replace protocol (the same
    * unification the CSV and manifest substrates already made): the
    * naive `mode("overwrite")` write DELETES the live dir before the
    * new content exists, so a crash mid-write left exists() true with
    * zero readable part files AND no stage for recoverAll to roll
    * forward — the old table gone and the new one never born. Staging
    * first makes every crash point leave either the intact old table
    * (plus sweepable stage debris) or the committed new one (found by
    * the r13 crash-point sweep, `CrashPointSpec`).
    */
  def overwrite(df: DataFrame, warehouseDir: String, table: String): Unit =
    Tables.replaceWarehouse(df.sparkSession, warehouseDir, table, df)
  /** Parquet physically tolerates heterogeneous files, so a drifted
    * append would not fail the WRITE — it would fail (or silently
    * narrow) every future READ; the boundary contract (BigQuery
    * rejects unknown columns at load time) gates it here instead.
    * The gate costs one directory listing + footer read per append —
    * pipeline-cadence cost (this trait is the reference's per-run
    * warehouse boundary); high-frequency internal appenders (streaming
    * sinks) call [[Tables.appendWarehouse]] directly and keep their
    * own schema discipline.
    */
  def append(df: DataFrame, warehouseDir: String, table: String): Unit = {
    val spark = df.sparkSession
    if (exists(spark, warehouseDir, table)) {
      val rec = read(spark, warehouseDir, table).schema
      val recSet = rec.fields.map(f => (f.name, f.dataType)).toSet
      val dfSet = df.schema.fields.map(f => (f.name, f.dataType)).toSet
      val drift = df.schema.fields.map(f => (f.name, f.dataType))
        .filterNot(recSet.contains)
      require(drift.isEmpty,
        s"warehouse append to $table: column(s) " +
          s"${drift.map { case (c, t) => s"$c:${t.simpleString}" }
            .mkString(", ")} are not in the recorded schema " +
          s"(${rec.simpleString}) — additive evolution goes through " +
          "the evolved-read path explicitly, never a silent append")
      // the symmetric gate: a frame MISSING recorded columns would
      // leave heterogeneous parquet files behind, and readWarehouse
      // samples its schema from ONE file (no mergeSchema) — later
      // reads would nondeterministically keep or drop the omitted
      // column depending on which file the sampler hits
      val missing = rec.fields.map(f => (f.name, f.dataType))
        .filterNot(dfSet.contains)
      require(missing.isEmpty,
        s"warehouse append to $table: recorded column(s) " +
          s"${missing.map { case (c, t) => s"$c:${t.simpleString}" }
            .mkString(", ")} are absent from the appended frame — a " +
          "subset append leaves heterogeneous files that a " +
          "single-file-sampled schema reads back nondeterministically")
    }
    Tables.appendWarehouse(df, warehouseDir, table)
  }
  def replace(spark: SparkSession, warehouseDir: String, table: String,
      df: DataFrame): Unit =
    Tables.replaceWarehouse(spark, warehouseDir, table, df)
  /** Interrupted replace swaps (`{table}._swap`) — the one thing the
    * parquet write paths can leave mid-flight.
    */
  def recoverAll(spark: SparkSession, warehouseDir: String): Unit = {
    val root = new Path(warehouseDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n.endsWith("._swap")) {
        val table = n.stripSuffix("._swap")
        // not rolled forward ⇒ the stage is debris: either the live
        // table stands (replace never reached its delete commit) or
        // the stage is incomplete (died mid-staging — live present or
        // not, nothing committed). Either way the swap sweeps. The one
        // case kept on disk: a COMPLETE stage whose live is missing
        // but whose rename just failed — that is recoverable data, not
        // debris; deleting it would finish the crash's work.
        if (!Tables.recoverWarehouseSwap(spark, warehouseDir, table) &&
            (fs.exists(new Path(s"$warehouseDir/$table")) ||
              !fs.exists(new Path(st.getPath, "_SUCCESS"))))
          fs.delete(st.getPath, true)
      }
    }
  }
}

/** The THIRD substrate: the engine's own MVCC manifest layer
  * ([[ManifestVersioned]]) behind the six-verb boundary — so the
  * reference-shaped pipeline ([[graft.core.Pipeline]] / `graft.EtlMain`,
  * `GRAFT_ADAPTER=manifest`) drives the versioned engine instead of a
  * bare file layout. What it buys over the parquet/CSV substrates, for
  * free at the boundary:
  *
  *  - every nightly [[overwrite]]/[[replace]]/[[append]] is a
  *    COMMITTED VERSION — `DESCRIBE HISTORY` audits the run cadence,
  *    time travel reads any past night, RESTORE undoes a bad load;
  *  - the materialization barrier [[replace]] needs is MVCC itself:
  *    staging writes new immutable generation dirs while readers (and
  *    the staging scan) keep resolving the old manifest — the commit
  *    is one atomic manifest publish, no delete-then-rename window at
  *    all;
  *  - crash debris is healed by the layer's own machinery
  *    ([[recoverAll]] = orphan-generation + staging sweep via the
  *    vacuum planner, retaining ALL history).
  *
  * Layout: `<warehouseDir>/<table>.mv` (collision-free next to the
  * other substrates' layouts). The boundary carries schema-dynamic
  * frames with no declared partition column, but the manifest layer
  * partitions by recorded in-file columns — so the adapter stamps a
  * synthetic `_graft_shard` string column (dropped on read, rejected
  * on write if the frame already carries one): `<batchTag>_<bucket>`
  * where `bucket = pmod(xxhash64(hashable cols), shards)` spreads one
  * write across `shards` parallel generation dirs, and `batchTag` is
  * per-write-batch — APPENDS therefore stage only NEW partitions
  * (their tag never collides with an existing one), keeping
  * [[append]] O(batch) instead of a copy-on-write rewrite of every
  * touched shard. Full loads restamp everything, so shard sprawl
  * resets every [[overwrite]]/[[replace]]; between full loads the
  * layer's OPTIMIZE/compaction folds sprawl if a caller lets appends
  * accumulate. A table first loaded by [[mergeBootstrap]] instead
  * declares the shard as the generated column `keybucket(shards,
  * key)`, and every verb derives it from the key (see there).
  *
  * Scale note: [[overwrite]] and [[replace]] are full-snapshot commits
  * (O(table)) — exactly the reference's WRITE_TRUNCATE contract
  * (`helper_functions.py:192-196`); the sub-linear nightly path
  * (versioned MERGE touching only changed partitions,
  * [[ManifestVersioned.mergeVersionedMulti]]) is the engine's native
  * API/SQL surface, deliberately NOT smuggled through a boundary whose
  * contract is truncate-shaped.
  */
/** `mergeKey`: when set AND the written frame carries that column, the
  * full-load verbs record it as the durable `graft.mergeKey` table
  * property — so `GraftSqlTables.registerAll(warehouseDir)` after an
  * `EtlMain` run yields tables that are immediately MERGE/DELETE-
  * capable on the SQL surface, not just readable (the DML statements
  * resolve their upsert key from exactly this property). Skipped
  * per-table when the column is absent (recording a key a table does
  * not hold would just move the error to first DML use).
  */
/** `recoveryGraceMs` mirrors [[ManifestVersioned.vacuum]]'s
  * `stagingGraceMs` contract for [[recoverAll]]: staged-but-uncommitted
  * debris (and `.mv` dirs with no committed version at all) is swept
  * only when it has been quiet for at least this long. The default 0
  * is correct ONLY under the documented single-writer startup window
  * (the pipeline calls recoverAll before any writer starts); a
  * deployment where recovery can race a live first-commit or an
  * in-flight stage MUST pass a grace comfortably above its longest
  * write, or the sweep could delete files a concurrent commit is about
  * to publish.
  */
final class ManifestWarehouseAdapter(shards: Int = 8,
    mergeKey: Option[String] = None,
    recoveryGraceMs: Long = 0L)
    extends WarehouseAdapter with MergeCapableWarehouse {
  require(shards >= 1, s"shards must be >= 1, got $shards " +
    "(pmod by zero would stamp NULL shard buckets)")
  require(recoveryGraceMs >= 0L,
    s"recoveryGraceMs must be >= 0, got $recoveryGraceMs")
  import org.apache.spark.sql.functions.{concat, lit, pmod, xxhash64}

  private[io] val ShardCol = "_graft_shard"

  private def hashableCols(df: DataFrame) =
    df.schema.fields.toSeq.filter(_.dataType match {
      case _: ArrayType | _: MapType | _: StructType => false
      case _ => true
    }).map(f => org.apache.spark.sql.functions.col(f.name))

  private def unstamped(df: DataFrame): DataFrame = {
    require(!df.columns.contains(ShardCol),
      s"manifest warehouse adapter: the frame already carries the " +
        s"reserved shard column $ShardCol")
    df
  }

  private def stamped(df0: DataFrame): DataFrame = {
    val df = unstamped(df0)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val hs = hashableCols(df)
    val bucket =
      if (hs.isEmpty) lit("0")
      else pmod(xxhash64(hs: _*), lit(shards.toLong)).cast("string")
    df.withColumn(ShardCol, concat(lit(s"${tag}_"), bucket))
  }

  private def recordedSchema(spark: SparkSession, warehouseDir: String,
      table: String): StructType =
    StructType(ManifestVersioned.manifestSchema(spark, warehouseDir, table)
      .getOrElse(throw new IllegalStateException(
        s"$table records no #schema header"))
      .fields.filterNot(_.name == ShardCol))

  def exists(spark: SparkSession, warehouseDir: String,
      table: String): Boolean =
    ManifestVersioned.currentVersion(spark, warehouseDir, table).isDefined

  /** The head version resolves once (one listing) and the read is
    * pinned to it, so a commit landing mid-call cannot tear the read.
    */
  def read(spark: SparkSession, warehouseDir: String, table: String)
      : DataFrame = {
    val head = ManifestVersioned.currentVersion(spark, warehouseDir, table)
    require(head.isDefined,
      s"manifest warehouse table $table does not exist under $warehouseDir")
    ManifestVersioned.read(spark, warehouseDir, table, head).drop(ShardCol)
  }

  /** The table's declared shard transform ([[mergeBootstrap]]'s
    * `keybucket`), None for batch-tagged tables, tables bootstrapped
    * before the declaration existed, and absent tables.
    */
  private def shardSpec(spark: SparkSession, warehouseDir: String,
      table: String): Option[GenCols.GenSpec] =
    ManifestVersioned.generatedColumns(spark, warehouseDir, table)
      .find(_.genCol == ShardCol)

  private def keyProps(df: DataFrame): Map[String, String] =
    mergeKey.filter(df.columns.contains)
      .map(k => Map("graft.mergeKey" -> k)).getOrElse(Map.empty)

  /** Same commit as [[replace]] — a full-snapshot version; on MVCC the
    * first-sight and the replace-from-self verbs genuinely coincide
    * (one body, so the two can never drift apart).
    */
  def overwrite(df: DataFrame, warehouseDir: String, table: String): Unit =
    replace(df.sparkSession, warehouseDir, table, df)

  /** O(batch): the fresh batch tag means every staged partition is NEW
    * — [[ManifestVersioned.appendRows]]'s touched-partition slice is
    * empty, so nothing existing is read or rewritten. On a table that
    * declares the key shard ([[mergeBootstrap]]) the shard derives from
    * the key instead, and the append folds into the touched buckets.
    * Schema is gated exactly (both directions, positional) like the CSV
    * substrate: the manifest layer's own additive evolution is a
    * deliberate act on the engine surface, never a silent boundary
    * append.
    */
  def append(df: DataFrame, warehouseDir: String, table: String): Unit = {
    val spark = df.sparkSession
    if (!exists(spark, warehouseDir, table)) {
      overwrite(df, warehouseDir, table); return
    }
    val rec = recordedSchema(spark, warehouseDir, table)
    require(df.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        rec.fields.map(f => (f.name, f.dataType)).toSeq,
      s"manifest warehouse append to $table: frame schema " +
        s"(${df.schema.simpleString}) does not match the recorded " +
        s"schema (${rec.simpleString})")
    val rows =
      if (shardSpec(spark, warehouseDir, table).isDefined) unstamped(df)
      else stamped(df)
    ManifestVersioned.appendRows(spark, warehouseDir, table, rows,
      note = "warehouse append")
  }

  /** Full-snapshot commit — MVCC IS the materialization barrier: the
    * staging scan of `df` resolves the old manifest's immutable
    * generation dirs while the new ones are written; the old version
    * stays bit-perfect (and time-travel-readable) after the commit.
    *
    * When `mergeKey` is configured but the frame DROPPED the key
    * column, the durable `graft.mergeKey` property is cleared in the
    * SAME commit (user properties otherwise survive full rewrites) —
    * a stale key pair would make registerAll() hand out a table whose
    * SQL DML resolves a nonexistent column, the deferred error this
    * adapter exists to prevent.
    *
    * On a table that declares the key shard ([[mergeBootstrap]]) the
    * rewrite keeps the key-bucketed layout: the shard derives from the
    * key, so a later [[mergeChanges]] still takes the one-pass path. A
    * frame that dropped the key column drops the declaration in the
    * same commit and takes the batch-tagged stamp.
    */
  def replace(spark: SparkSession, warehouseDir: String, table: String,
      df: DataFrame): Unit = {
    val decl = shardSpec(spark, warehouseDir, table)
    val keyed = decl.exists(s => df.columns.contains(s.src))
    ManifestVersioned.writeFullMulti(spark, warehouseDir, table,
      if (keyed) unstamped(df) else stamped(df), Seq(ShardCol),
      properties = keyProps(df),
      dropProperties =
        mergeKey.filterNot(df.columns.contains).map(_ => "graft.mergeKey")
          .toSeq ++
        decl.filterNot(_ => keyed).map(_ => GenCols.Prefix + ShardCol))
  }

  /** First-sight full load under the KEY-BUCKETED layout the nightly
    * merge path needs ([[mergeChanges]]): the shard column is DECLARED
    * as the generated column `keybucket(shards, keyCol)` ([[GenCols]]),
    * whose value is the deterministic `k<pmod(xxhash64(keyCol),
    * shards)>` (integral keys hashed as `long`, every batch's key
    * conformed to the recorded type first) — no per-batch tag — so
    * every row of a key lives in exactly one generation dir across all
    * nights, whatever type a night's CSV inference gives the key. The
    * declaration is a durable table property recorded in this same
    * commit: every later write path (the adapter verbs, SQL INSERT,
    * `appendRows`, `writeDelta`) derives or verifies the shard from the
    * key, and the keyed merge reads a night's touched buckets straight
    * off the change rows. A bloom policy over `keyCol` serves point lookups.
    * Contrast [[replace]]/[[append]]'s batch-tagged stamp on undeclared
    * tables, which optimizes append-only O(batch) writes instead; the
    * two layouts share the `.mv` table format, `read` and `exists`
    * verbs, and MVCC history.
    */
  def mergeBootstrap(df: DataFrame, warehouseDir: String, table: String,
      keyCol: String): Unit = {
    require(df.columns.contains(keyCol),
      s"mergeBootstrap($table): frame has no key column $keyCol")
    ManifestVersioned.writeFullMulti(df.sparkSession, warehouseDir, table,
      unstamped(df), Seq(ShardCol), bloomCols = Seq(keyCol),
      properties = Map("graft.mergeKey" -> keyCol,
        GenCols.Prefix + ShardCol -> s"keybucket($shards, $keyCol)"))
  }

  /** The O(changed-partitions) nightly verb: route a change batch
    * (upserts + tombstones) through the engine's versioned keyed merge
    * ([[ManifestVersioned.mergeVersionedMulti]]) instead of the
    * read-merge-replace full rewrite. On a table that declares the key
    * shard ([[mergeBootstrap]]) the change rows derive their bucket
    * from the declaration, and the merge takes its one-pass key-derived
    * path: the touched buckets are the change rows' own, one shuffle
    * merges them, and each touched bucket is rewritten as one file.
    * Tables bootstrapped before the declaration existed get the same
    * bucket stamped here and take the general locate-then-merge path.
    * Either way the commit stages ONLY the buckets holding changed
    * keys — untouched generation dirs are not read, not rewritten,
    * and stay byte-identical across the commit (the property the
    * 3-night pipeline spec pins). A batch scattered over the key space
    * touches every bucket, though: a 1 % night over 8 buckets rewrites
    * all 8, so such a night rewrites the table — in one pass, not the
    * full read-merge-replace. Merge semantics are exactly the
    * overwrite path's ([[graft.core.Merge.merge]] on the partition
    * slice): version-ordered latest-wins with null-aware tombstone
    * deletes — so the final table is bit-identical to what
    * read-merge-replace would have produced.
    *
    * @return the touched partition values (for O(batch) assertions)
    *         and the committed version
    */
  def mergeChanges(spark: SparkSession, warehouseDir: String,
      table: String, change: DataFrame, keyCol: String,
      order: Seq[org.apache.spark.sql.Column],
      isTombstone: org.apache.spark.sql.Column): (Seq[Seq[String]], Int) = {
    require(exists(spark, warehouseDir, table),
      s"mergeChanges($table): no committed version to merge into — " +
        "first sight goes through mergeBootstrap")
    require(change.columns.contains(keyCol),
      s"mergeChanges($table): change frame has no key column $keyCol")
    val rows =
      if (shardSpec(spark, warehouseDir, table).isDefined) unstamped(change)
      else keyStamped(change, keyCol)
    ManifestVersioned.mergeVersionedMulti(spark, warehouseDir, table,
      rows, keyCol, Seq(ShardCol), order,
      isTombstone, note = "pipeline incremental merge")
  }

  /** The key-bucket stamp of a table bootstrapped without the shard
    * declaration — the value `keybucket(shards, keyCol)` derives. Such
    * a bootstrap hashed integral keys at their own type, so a stored
    * row's bucket can differ from the stamp; the general path locates
    * stored rows by key, so the merge stays correct either way.
    */
  private def keyStamped(df: DataFrame, keyCol: String): DataFrame =
    unstamped(df).withColumn(ShardCol, GenCols.mkColumn(
      GenCols.GenSpec(ShardCol, "keybucket", Some(shards.toLong), keyCol),
      df.schema(keyCol).dataType))

  /** Heal crash debris across every manifest table under the root,
    * retaining ALL committed history: the vacuum planner with
    * `keepHistory = <all versions>` sweeps exactly (a) staged-but-
    * never-committed generation/bloom/dv dirs (a crash between the
    * stage rename and the manifest publish) and (b) `._stage.*`
    * scratch dirs. A `.mv` dir with NO committed manifest at all (a
    * crash before the table's first commit) is swept entirely — it was
    * never a table.
    *
    * Grace: both sweeps honor the constructor's `recoveryGraceMs`
    * (vacuum's own `stagingGraceMs` contract; for the zero-version
    * sweep, a dir any of whose files changed within the grace window
    * is left alone). The default 0 assumes the pipeline-startup
    * single-writer window — see the constructor doc for when a
    * deployment must raise it.
    */
  def recoverAll(spark: SparkSession, warehouseDir: String): Unit = {
    val root = new Path(warehouseDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.endsWith(".mv")) {
        val table = n.stripSuffix(".mv")
        val versions =
          ManifestVersioned.listVersions(spark, warehouseDir, table)
        if (versions.isEmpty) {
          if (recoveryGraceMs == 0L || quietSince(fs, st.getPath) <=
              System.currentTimeMillis() - recoveryGraceMs)
            fs.delete(st.getPath, true)
        } else ManifestVersioned.vacuum(spark, warehouseDir, table,
          keepHistory = versions.size, stagingGraceMs = recoveryGraceMs)
      }
    }
  }

  /** Newest modification time under `p` (the dir itself when empty) —
    * the zero-version sweep's "has anything been written here
    * recently?" probe. Uncommitted debris is small by construction
    * (one crashed first-write's staging), so the recursive listing is
    * startup-cadence cheap.
    */
  private def quietSince(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Long = {
    val self = fs.getFileStatus(p)
    val children = fs.listStatus(p)
    (self.getModificationTime +: children.toSeq.map(c =>
      if (c.isDirectory) quietSince(fs, c.getPath)
      else c.getModificationTime)).max
  }
}

/** A SECOND, deliberately non-parquet substrate: CSV data files plus a
  * JSON schema sidecar (CSV itself is untyped — the sidecar is what
  * BigQuery's table metadata is in the real system, so reads come back
  * at the exact written types, not inference roulette). Exists to prove
  * the [[WarehouseAdapter]] boundary carries no parquet assumptions:
  * the contract kit and the full pipeline e2e both run green against
  * it.
  *
  * Layout: `<warehouseDir>/<table>.csvwh/` holding `schema.json` plus
  * the CSV part files under `data/`.
  * The `.csvwh` suffix keeps the two substrates collision-free in one
  * directory. Replace stages a COMPLETE copy at `<table>.csvwh._swap`,
  * deletes the live dir (the commit point), renames the stage in —
  * the same protocol [[Tables.replaceWarehouse]] uses, re-implemented
  * on this substrate; [[recoverAll]] rolls interrupted swaps forward.
  *
  * Fidelity notes (all pinned by the kit, incl. a seeded fuzz over the
  * CSV hazard alphabet): string NULL-vs-value is prefix-encoded
  * (non-null strings carry a one-char prefix on disk — `s` + raw, or
  * `b` + base64 when the value contains a carriage return, which CSV
  * parsers would otherwise normalize to \n; NULL is the bare empty
  * field) — no in-band sentinel exists for data to collide with, so
  * `\N`, `NULL` and the empty string are all just payloads; whitespace
  * is preserved (the writer trims by default); timestamps/dates
  * serialize in fixed UTC formats; only atomic CSV-serializable types
  * are admitted — a frame carrying arrays/maps/structs/binary rejects
  * loudly rather than silently stringifying.
  */
object CsvWarehouseAdapter extends WarehouseAdapter {
  private val TsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  private def dir(warehouseDir: String, table: String) =
    new Path(s"$warehouseDir/$table.csvwh")

  private def checkTypes(df: DataFrame, table: String): Unit = {
    val bad = df.schema.fields.filterNot(_.dataType match {
      case _: ArrayType | _: MapType | _: StructType | BinaryType => false
      case _ => true
    })
    require(bad.isEmpty,
      s"CSV warehouse adapter: $table carries non-CSV-serializable " +
        s"column(s) ${bad.map(f => s"${f.name}:${f.dataType.simpleString}")
          .mkString(", ")} — only atomic types round-trip through CSV")
  }

  // String NULL-vs-value fidelity is encoded OUT OF BAND: every
  // non-null string serializes with a one-char `s` prefix (stripped on
  // read), NULL as the bare empty field. No in-band sentinel exists
  // for data to collide with — a value spelled like any chosen null
  // token (`\N`, `NULL`, the empty string itself) is just a prefixed
  // payload. CSV parsers normalize quoted-empty and bare-empty into
  // the same token before null substitution, so the "quoted empty =
  // empty string" scheme is NOT reliable (found by the contract kit);
  // the prefix is. Non-string atomics have no such ambiguity (a
  // non-null numeric is never the empty field). Whitespace
  // preservation is explicit: univocity's writer TRIMS by default.
  import org.apache.spark.sql.functions.{base64, col, concat, decode,
    length, lit, unbase64, when}

  // two prefixes: `s` + raw for ordinary strings, `b` + base64 for
  // strings containing a carriage return — CSV parsers NORMALIZE line
  // endings inside quoted fields (a lone \r reads back as \n, found by
  // the seeded fuzz row in the contract kit), so CR-carrying payloads
  // ride opaque. Base64 is unchunked in Spark 4 (RFC 4648), so the
  // encoded form never reintroduces a line break.
  private def encoded(df: DataFrame): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      if (f.dataType == StringType) {
        val c = col(f.name)
        when(c.isNull, lit(null))
          .when(c.contains("\r"),
            concat(lit("b"), base64(c.cast(BinaryType))))
          .otherwise(concat(lit("s"), c)).as(f.name)
      } else col(f.name)
    }: _*)

  private def writeData(df: DataFrame, target: Path, mode: String): Unit =
    encoded(df).write.mode(mode)
      .option("header", "false")
      .option("nullValue", "")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("timestampFormat", TsFormat)
      .csv(new Path(target, "data").toString)

  /** schema.json is the LAST staging artifact and doubles as the
    * stage-completeness marker ([[recoverAll]] rolls forward only
    * stages that have it) — so it must appear ATOMICALLY: written to a
    * `._tmp` sibling and renamed in, never created in place where a
    * crash could leave a truncated JSON that parses as a broken table.
    */
  private def writeSchema(spark: SparkSession, df: DataFrame,
      target: Path): Unit = {
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(target, "schema.json._tmp")
    val fin = new Path(target, "schema.json")
    val out = fs.create(tmp, true)
    try out.write(df.schema.json.getBytes("UTF-8")) finally out.close()
    fs.delete(fin, false)
    if (!fs.rename(tmp, fin)) throw new java.io.IOException(
      s"csv schema publish failed: $tmp -> $fin")
  }

  private def readSchema(spark: SparkSession, d: Path): StructType = {
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(d, "schema.json")
    require(fs.exists(p), s"CSV warehouse table at $d has no schema.json")
    val in = fs.open(p)
    val txt = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toString("UTF-8")
    } finally in.close()
    DataType.fromJson(txt).asInstanceOf[StructType]
  }

  def exists(spark: SparkSession, warehouseDir: String, table: String): Boolean = {
    val d = dir(warehouseDir, table)
    d.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(d)
  }

  def read(spark: SparkSession, warehouseDir: String, table: String): DataFrame = {
    val d = dir(warehouseDir, table)
    require(exists(spark, warehouseDir, table),
      s"CSV warehouse table $table does not exist under $warehouseDir")
    // multiLine: quoted embedded newlines are data, not record breaks
    // (the reference's own CSV reads set it too —
    // incremental_etl_v1.py:48); costs file-level splittability, which
    // a warehouse stand-in can afford. String columns strip the write
    // side's `s` prefix (see writeData).
    val schema = readSchema(spark, d)
    val raw = spark.read.schema(schema)
      .option("header", "false")
      .option("nullValue", "")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("timestampFormat", TsFormat)
      .option("multiLine", "true")
      .csv(new Path(d, "data").toString)
    raw.select(schema.fields.toSeq.map { f =>
      if (f.dataType == StringType) {
        val c = col(f.name)
        val payload = c.substr(lit(2), length(c))
        when(c.isNull, lit(null))
          .when(c.startsWith("b"), decode(unbase64(payload), "UTF-8"))
          .otherwise(payload).as(f.name)
      } else col(f.name)
    }: _*)
  }

  /** Routed through [[replace]]'s stage-then-swap protocol: the naive
    * delete-live-then-write shape left a crash window where exists()
    * was true but every read threw (data present, schema.json not yet
    * written) and [[recoverAll]] could not heal it. Staging the
    * COMPLETE table (data + schema.json) before the delete closes it —
    * a crash now leaves either the intact old table plus a sweepable
    * stage, or a committed delete whose stage rolls forward.
    */
  def overwrite(df: DataFrame, warehouseDir: String, table: String): Unit =
    replace(df.sparkSession, warehouseDir, table, df)

  def append(df: DataFrame, warehouseDir: String, table: String): Unit = {
    checkTypes(df, table)
    val spark = df.sparkSession
    if (!exists(spark, warehouseDir, table)) {
      overwrite(df, warehouseDir, table); return
    }
    val d = dir(warehouseDir, table)
    val rec = readSchema(spark, d)
    require(df.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        rec.fields.map(f => (f.name, f.dataType)).toSeq,
      s"CSV warehouse append to $table: frame schema " +
        s"(${df.schema.simpleString}) does not match the recorded " +
        s"schema (${rec.simpleString}) — CSV columns are positional, " +
        "a drifted append would silently mis-column every future read")
    writeData(df, d, "append")
  }

  def replace(spark: SparkSession, warehouseDir: String, table: String,
      df: DataFrame): Unit = {
    checkTypes(df, table)
    val live = dir(warehouseDir, table)
    val swap = new Path(s"$warehouseDir/$table.csvwh._swap")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(swap, true)
    writeData(df, swap, "overwrite") // full materialization barrier
    writeSchema(spark, df, swap)
    fs.delete(live, true) // the commit point
    if (!fs.rename(swap, live))
      throw new java.io.IOException(
        s"csv replace swap failed: $swap -> $live (data is at $swap)")
    // fs-level renames bypass the write paths' file-listing cache
    // invalidation (see Tables.replaceWarehouse) — refresh or the next
    // read can serve the pre-swap listing
    spark.catalog.refreshByPath(new Path(live, "data").toString)
  }

  def recoverAll(spark: SparkSession, warehouseDir: String): Unit = {
    val root = new Path(warehouseDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n.endsWith(".csvwh._swap")) {
        val live = new Path(root, n.stripSuffix("._swap"))
        // schema.json is the staging protocol's completeness marker
        // (written last, atomically): live-missing + marker = the
        // delete committed, roll the staged copy forward; live-missing
        // WITHOUT it = a first-sight overwrite died mid-staging —
        // there was never a table, sweep the partial stage instead of
        // minting an unreadable one (r13 crash-point sweep)
        val complete = fs.exists(new Path(st.getPath, "schema.json"))
        if (!fs.exists(live) && complete) {
          if (!fs.rename(st.getPath, live)) throw new java.io.IOException(
            s"csv swap recovery failed: ${st.getPath} -> $live")
          spark.catalog.refreshByPath(new Path(live, "data").toString)
        } else fs.delete(st.getPath, true) // never committed — sweep
      }
    }
  }
}
