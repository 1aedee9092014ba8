package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Sink,
  Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.DslBridge
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider,
  StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{IntegerType, StringType, StructField,
  StructType}

import graft.io.ManifestVersioned

/** First-class Structured Streaming SOURCE over a manifest table's
  * change feed — the subscription form the reference's consumers want
  * (its warehouse offers CDC via `CHANGES`-style reads;
  * `incremental_etl_v1.py` PRODUCES changes nightly, and anything
  * downstream re-reads full snapshots today):
  *
  * {{{
  *   spark.readStream.format("graft")
  *     .option("warehouse", wh).option("table", "orders")
  *     .option("keyCol", "o_orderkey")          // default: registered key
  *     .option("startingVersion", "0")          // 0=bootstrap | N | latest
  *     .option("maxVersionsPerTrigger", "16")   // catch-up admission cap
  *     .load()
  * }}}
  *
  * Offsets ARE committed manifest versions (a [[LongOffset]] carrying
  * the version number), so the checkpoint's resume point is exactly a
  * "consumed through version N" cursor and each micro-batch is
  * [[ManifestVersioned.readChangesSince]]`(N, toV=M)` — the
  * partition-pruned, schema-conformed engine path. No second feed
  * implementation: SQL reads, batch subscribers and this stream share
  * one change-computation code path.
  *
  * Design note — V1 `Source`, not a DSv2 `MicroBatchStream`, and
  * deliberately so (the same call Delta's streaming source makes):
  * `getBatch` returns a whole DataFrame, so the feed keeps its
  * distributed plan — manifest-diff partition pruning, the two pruned
  * slice scans and the full-outer diff all planned by Catalyst per
  * batch. A DSv2 `PartitionReader` hands the engine row-at-a-time
  * iterators per input split, which would force the diff join to be
  * re-implemented inside the source instead of planned — strictly worse
  * at every scale. The offset/checkpoint contract (resume at the right
  * version after restart) is identical across the two APIs and is
  * pinned by `GraftStreamSourceSpec`.
  *
  * Determinism & retention: a replayed batch (post-crash re-run of the
  * last uncommitted micro-batch) recomputes `readChangesSince(N, M)`,
  * which is deterministic for pinned versions because generation dirs
  * and delete dirs are immutable. A subscriber that lags past
  * [[ManifestVersioned.vacuum]]'s retention fails LOUDLY on the missing
  * manifest — never silently mislabels missed updates (the
  * `readChangesSince` contract).
  *
  * Schema is pinned at stream start (the head version's recorded
  * schema). A mid-stream ADDITIVE evolution of the table fails the next
  * batch loudly with a restart instruction — on restart the stream
  * adopts the widened schema and the checkpoint resumes at the correct
  * version (same stance as Delta: a stream never silently changes its
  * output schema mid-flight).
  */
class GraftStreamProvider extends StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  /** The SINK direction — `df.writeStream.format("graft")` commits each
    * micro-batch as ONE atomic manifest version. `commitMode` picks the
    * write semantics (all three are the engine's own batch APIs, so the
    * stream inherits their concurrency/evolution contracts):
    *
    *  - `append` (default): [[ManifestVersioned.appendRows]] — SQL
    *    INSERT semantics, duplicate keys coexist.
    *  - `replacePartitions`: [[ManifestVersioned.writeDeltaMulti]] —
    *    each batch carries its touched partitions' FULL content.
    *  - `merge`: [[ManifestVersioned.mergeVersionedMulti]] in
    *    source-wins mode — the reference's nightly CDC fold as a
    *    stream; `keyCol` as for the source,
    *    `.option("tombstoneCol", c)` rows delete their key. A
    *    micro-batch carrying SEVERAL rows for one key needs
    *    `.option("orderCol", c)` (highest wins, e.g. a CDC sequence
    *    number) — without it duplicate keys in a batch REJECT loudly,
    *    because picking a survivor by accident of partition order
    *    would be a silent wrong answer on replay.
    *
    * EXACTLY-ONCE under the engine's ledger-free note guard: the commit
    * records the batch id as the manifest note and a replayed batch
    * whose id already heads the table short-circuits (the
    * [[StreamingIngest.manifestBatch]] contract; single writer per
    * table). Bootstrap with [[ManifestVersioned.writeFull]] first.
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"the graft sink supports Append output mode (got $outputMode); " +
        "pick the write semantics with .option(\"commitMode\", " +
        "append|replacePartitions|merge)")
    require(partitionColumns.isEmpty,
      "partitioning is the TABLE's recorded #partcols — drop " +
        ".partitionBy(...) from the writer")
    val spark = sqlContext.sparkSession
    val ci = parameters.map { case (k, v) => k.toLowerCase -> v }
    val wh = ci.getOrElse("warehouse", throw new IllegalArgumentException(
      "the graft sink needs .option(\"warehouse\", <warehouseDir>)"))
    val table = ci.getOrElse("table", throw new IllegalArgumentException(
      "the graft sink needs .option(\"table\", <tableName>)"))
    val mode = ci.getOrElse("commitmode", "append")
    require(Set("append", "replacepartitions", "merge").contains(
      mode.toLowerCase), s"unknown commitMode '$mode' — use append, " +
        "replacePartitions or merge")
    val keyCol =
      if (mode.toLowerCase == "merge")
        Some(ci.get("keycol")
          .orElse(graft.plans.GraftSqlTables.lookupKey(spark, table))
          .getOrElse(throw new IllegalArgumentException(
            "commitMode=merge needs .option(\"keyCol\", <key>) or a " +
              "registered merge key")))
      else None
    require(
      ManifestVersioned.currentVersion(spark, wh, table).isDefined,
      s"$table has no committed version under $wh — bootstrap with " +
        "ManifestVersioned.writeFull first (the sink needs the recorded " +
        "#partcols/#schema headers)")
    new GraftManifestSink(spark, wh, table, mode.toLowerCase, keyCol,
      ci.get("tombstonecol"), ci.get("ordercol"))
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "the graft change-feed source derives its schema from the table's " +
        "recorded head schema; a user-specified schema is not accepted")
    val (wh, table, keyCol, _) =
      GraftStreamProvider.resolveOptions(sqlContext.sparkSession,
        parameters)
    val tableSchema = GraftStreamProvider
      .headSchema(sqlContext.sparkSession, wh, table)
    (shortName(),
      GraftStreamProvider.feedSchemaOf(tableSchema, keyCol))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val (wh, table, keyCol, startRaw) =
      GraftStreamProvider.resolveOptions(spark, parameters)
    val startingVersion = startRaw match {
      case "latest" =>
        ManifestVersioned.currentVersion(spark, wh, table).getOrElse(0)
      case s =>
        val v = try s.toInt catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"startingVersion must be a version number or 'latest', got '$s'")
        }
        require(v >= 0, s"startingVersion must be >= 0, got $v")
        v
    }
    val tableSchema = GraftStreamProvider.headSchema(spark, wh, table)
    require(tableSchema.fieldNames.contains(keyCol),
      s"key column $keyCol is not in $table's schema " +
        s"(${tableSchema.fieldNames.mkString(", ")})")
    // fail at stream START when the requested starting point predates
    // retention — same rule as getBatch's resume guard, but caught
    // before a checkpoint ever exists
    GraftStreamProvider.checkRetention(spark, wh, table, startingVersion)
    val ci = parameters.map { case (k, v) => k.toLowerCase -> v }
    val maxPerTrigger = ci.get("maxversionspertrigger").map { s =>
      val n = try s.toInt catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"maxVersionsPerTrigger must be a positive number, got '$s'")
      }
      require(n > 0, s"maxVersionsPerTrigger must be positive, got $n")
      n
    }
    new GraftChangeFeedSource(spark, wh, table, keyCol, startingVersion,
      tableSchema,
      ManifestVersioned.currentVersion(spark, wh, table).getOrElse(0),
      maxPerTrigger)
  }
}

object GraftStreamProvider {

  /** (warehouse, table, keyCol, startingVersion-raw) from reader
    * options. `keyCol` falls back to the table's registered SQL merge
    * key ([[graft.plans.GraftSqlTables.register]]) when the table is
    * registered under its own name — the stream and the DML surface
    * then agree on the key by construction.
    */
  private[streaming] def resolveOptions(spark: SparkSession,
      parameters: Map[String, String])
      : (String, String, String, String) = {
    val ci = parameters.map { case (k, v) => k.toLowerCase -> v }
    val wh = ci.getOrElse("warehouse", throw new IllegalArgumentException(
      "the graft source needs .option(\"warehouse\", <warehouseDir>)"))
    val table = ci.getOrElse("table", throw new IllegalArgumentException(
      "the graft source needs .option(\"table\", <tableName>)"))
    val keyCol = ci.get("keycol")
      .orElse(graft.plans.GraftSqlTables.lookupKey(spark, table))
      .getOrElse(throw new IllegalArgumentException(
        s"no keyCol option and $table is not registered with a merge " +
          "key — pass .option(\"keyCol\", <key>) or register via " +
          "GraftSqlTables.register(..., keyCol = Some(...))"))
    (wh, table, keyCol, ci.getOrElse("startingversion", "0"))
  }

  /** Serving changes `(sinceV+1 .. ]` needs every manifest from
    * `max(sinceV, 1)` on ([[ManifestVersioned.readChangesSince]]'s
    * retention contract — the special `sinceV = 0` bootstrap pair needs
    * only manifest 1). When a vacuum has reclaimed past that point the
    * resume point is EXPIRED — fail loudly and actionably (the Delta
    * `startingVersion` UX) instead of a raw missing-file error deep in
    * a batch plan.
    */
  private[streaming] def checkRetention(spark: SparkSession, wh: String,
      table: String, sinceV: Int): Unit = {
    val oldest = ManifestVersioned.earliestFeedVersion(spark, wh, table)
      .map(_ - 1).getOrElse(return)
    if (oldest > math.max(sinceV, 1))
      throw new IllegalStateException(
        s"change-feed resume point (version $sinceV) of $table has " +
          s"expired: history before version $oldest was vacuumed and " +
          "the changes between are unrecoverable. Restart the stream " +
          "with a FRESH checkpoint and .option(\"startingVersion\", " +
          s""""$oldest") (or "latest"); for an initial full snapshot """ +
          "use the batch bootstrap (ManifestVersioned." +
          "readChangesBootstrap, or StreamingIngest.changeFeedBatch " +
          "under StreamingIngest.sinkInto). " +
          "Size the table's vacuum retention above the slowest " +
          "subscriber's lag")
  }

  private[streaming] def headSchema(spark: SparkSession, wh: String,
      table: String): StructType =
    ManifestVersioned.manifestSchema(spark, wh, table).getOrElse(
      throw new IllegalArgumentException(
        s"$table records no #schema header under $wh — the change-feed " +
          "source needs a manifest-versioned table with at least one " +
          "committed version"))

  /** The feed relation's shape — structurally identical to
    * [[ManifestVersioned.readChangesSince]]'s output (version, key,
    * change_type, old_c/new_c per non-key column), derived without
    * running a query so `sourceSchema` stays metadata-only.
    */
  private[streaming] def feedSchemaOf(tableSchema: StructType,
      keyCol: String): StructType =
    StructType(
      StructField("version", IntegerType, nullable = false) +:
      StructField(keyCol, tableSchema(keyCol).dataType, nullable = true) +:
      StructField("change_type", StringType, nullable = false) +:
      tableSchema.fields.toIndexedSeq.filterNot(_.name == keyCol).flatMap(f =>
        Seq(StructField(s"old_${f.name}", f.dataType, nullable = true),
          StructField(s"new_${f.name}", f.dataType, nullable = true))))
}

class GraftChangeFeedSource(spark: SparkSession, warehouseDir: String,
    table: String, keyCol: String, startingVersion: Int,
    pinnedSchema: StructType, startHeadV: Int,
    maxVersionsPerTrigger: Option[Int] = None) extends Source {

  override val schema: StructType =
    GraftStreamProvider.feedSchemaOf(pinnedSchema, keyCol)

  /** The highest version this source has HANDED OUT in a batch —
    * admission control's cursor. Advanced by [[getBatch]] (including
    * the restart replay of the last committed batch, which is what
    * re-seeds it after a recovery), never read for correctness:
    * offsets in the checkpoint remain the one source of truth.
    */
  private var servedV: Int = startingVersion

  /** Latest available offset = the table's committed head version —
    * CAPPED at `maxVersionsPerTrigger` versions past what the stream
    * has already been handed (a subscriber far behind then catches up
    * in bounded micro-batches instead of planning one union over
    * thousands of manifest pairs). None until something commits past
    * the starting point (a fresh table or `startingVersion=latest`
    * stream idles instead of erroring).
    */
  override def getOffset: Option[V1Offset] = {
    val head = ManifestVersioned
      .currentVersion(spark, warehouseDir, table)
      .getOrElse(startingVersion)
    val capped = maxVersionsPerTrigger
      .map(n => math.min(head, math.max(servedV, startingVersion) + n))
      .getOrElse(head)
    if (capped > startingVersion) Some(LongOffset(capped.toLong)) else None
  }

  /** All offsets this source ever emits are [[LongOffset]]s; after a
    * restart they arrive re-hydrated from checkpoint JSON, so parse the
    * canonical form instead of pattern-matching classes.
    */
  private def versionOf(o: V1Offset): Int = o.json.trim.toInt

  override def getBatch(start: Option[V1Offset], end: V1Offset)
      : DataFrame = {
    val sinceV = start.map(versionOf).getOrElse(startingVersion)
    val toV = versionOf(end)
    // a vacuum DURING the stream's lifetime may have reclaimed the
    // resume point — fail with the actionable restart instruction, not
    // a missing-manifest read error
    GraftStreamProvider.checkRetention(spark, warehouseDir, table, sinceV)
    servedV = math.max(servedV, toV)
    val cur = ManifestVersioned.manifestSchema(spark, warehouseDir, table,
      Some(toV)).getOrElse(pinnedSchema)
    // a range NEW to this stream must match the pinned schema; a range
    // at-or-before the head this stream STARTED from is a restart
    // replay of an already-committed batch (the V1 contract re-issues
    // it to restore source bookkeeping) — a PRE-evolution schema there
    // is history, not drift, and the output conforms up to the pinned
    // shape (absent columns as typed NULLs)
    require(cur == pinnedSchema || toV <= startHeadV,
      s"$table's schema evolved mid-stream (recorded head schema at " +
        s"v$toV no longer matches the schema this stream started " +
        "with) — restart the streaming query; the checkpoint resumes " +
        "at the correct version and the stream adopts the new schema")
    val feed = ManifestVersioned.readChangesSince(spark, warehouseDir,
      table, sinceV, keyCol, Some(toV))
    val conformed =
      if (feed.schema == schema) feed
      else {
        val present = feed.columns.toSet
        feed.select(schema.fields.toIndexedSeq.map { f =>
          if (present.contains(f.name))
            org.apache.spark.sql.functions.col(f.name)
          else org.apache.spark.sql.functions.lit(null)
            .cast(f.dataType).as(f.name)
        }: _*)
      }
    org.apache.spark.sql.graftbridge.DslBridge.asStreamingBatch(spark,
      conformed)
  }

  override def stop(): Unit = ()

  override def toString: String =
    s"GraftChangeFeed(warehouse=$warehouseDir, table=$table, key=$keyCol)"
}

/** One micro-batch = one manifest commit (see
  * [[GraftStreamProvider.createSink]] for the mode semantics and the
  * exactly-once argument). The batch id note-guard runs BEFORE any
  * staging, so a replay costs one head read.
  */
class GraftManifestSink(spark: SparkSession, warehouseDir: String,
    table: String, mode: String, keyCol: Option[String],
    tombstoneCol: Option[String], orderCol: Option[String] = None)
  extends Sink {

  /** The LATEST applied batch id recoverable from the table's commit
    * notes — a bounded walk back from the head, skipping commits whose
    * notes are not `batch:N` (compaction/OPTIMIZE/vacuum-era commits,
    * DML issued between triggers). Checking only the HEAD's note would
    * re-apply a replayed batch whenever any maintenance commit landed
    * between the batch's commit and its post-crash replay. Batch ids
    * are monotone under the single-stream-writer contract, so the
    * first batch note found walking back IS the high-water mark. The
    * walk is bounded: a replay can only be a RECENT batch, and a
    * maintenance job between two triggers lands O(1) commits — if
    * every retained note in the window is non-batch, nothing from this
    * stream was ever applied there.
    */
  private def lastAppliedBatch(): Option[Long] = {
    val versions = ManifestVersioned
      .listVersions(spark, warehouseDir, table).reverse.take(64)
    versions.iterator
      .flatMap(v => ManifestVersioned
        .manifestNote(spark, warehouseDir, table, Some(v)))
      .collectFirst { case n if n.startsWith("batch:") =>
        n.stripPrefix("batch:").toLong }
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val note = s"batch:$batchId"
    if (lastAppliedBatch().exists(_ >= batchId)) return
    // the incrementally-planned streaming Dataset cannot be re-planned
    // by batch writers — re-brand its planned rows as a batch frame
    val batch = DslBridge.asBatch(spark, data)
    mode match {
      case "append" =>
        ManifestVersioned.appendRows(spark, warehouseDir, table, batch,
          note = note): Unit
      case "replacepartitions" =>
        val partCols = ManifestVersioned.partitionColumns(spark,
          warehouseDir, table).getOrElse(throw new IllegalStateException(
            s"$table records no #partcols header"))
        ManifestVersioned.writeDeltaMulti(spark, warehouseDir, table,
          batch, partCols, note = note): Unit
      case "merge" =>
        val partCols = ManifestVersioned.partitionColumns(spark,
          warehouseDir, table).getOrElse(throw new IllegalStateException(
            s"$table records no #partcols header"))
        val tomb = tombstoneCol.map(col(_)).getOrElse(lit(false))
        // several rows for one key in ONE batch: without an explicit
        // order the window tiebreak would pick a survivor by accident
        // of partition layout — nondeterministic across replays, so it
        // REJECTS instead (the one-extra-batch-sized-job price of
        // determinism). With orderCol the batch PRE-FOLDS to its
        // latest row per key (one batch-sized window) BEFORE the
        // merge — folding first is what makes a [delete seq=1,
        // update seq=2] pair resolve to the update: the engine's
        // tombstone test is key-level, so an unfolded delete row
        // would kill the key regardless of order. orderCol should be
        // unique per key within a batch (a CDC sequence number).
        if (orderCol.isEmpty &&
            batch.groupBy(col(keyCol.get)).count()
              .filter(col("count") > 1).limit(1).count() > 0L)
          throw new IllegalArgumentException(
            s"micro-batch $batchId carries several rows for one " +
              s"'${keyCol.get}' key — pass .option(\"orderCol\", <c>) " +
              "(highest wins, e.g. a CDC sequence number) or dedupe " +
              "upstream; picking a survivor arbitrarily would be a " +
              "silent wrong answer")
        val folded = orderCol.map(c => graft.core.Merge.latestWins(
          batch, Seq(keyCol.get), Seq(col(c).desc))).getOrElse(batch)
        ManifestVersioned.mergeVersionedMulti(spark, warehouseDir, table,
          folded, keyCol.get, partCols, order = Nil,
          isTombstone = tomb, sourceWins = true, note = note): Unit
    }
  }

  override def toString: String =
    s"GraftManifestSink(warehouse=$warehouseDir, table=$table, mode=$mode)"
}
