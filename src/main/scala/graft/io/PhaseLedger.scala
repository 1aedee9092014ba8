package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Per-batch PHASE LEDGER of a stored incremental state: which phases of
  * which ingest batch have durably landed, so an at-least-once replay
  * (foreachBatch redelivery, a re-run night) skips completed phases and
  * short-circuits completed batches. Used by the counted join
  * ([[graft.ext.IncrementalJoin.appendStoredCounted]]) and the ledgered
  * stream batches (SCD2, sessions, duplicate spans).
  *
  * The ledger is FILESYSTEM MARKER FILES, not a Spark relation: one
  * `<tag>.<phase>` file under `{warehouseDir}/{name}_applied/`. A probe
  * is one `exists()` metadata call and a mark is one atomic create —
  * zero Spark jobs for either, where the older table-backed form paid a
  * catalog read job per probe and a bucketed `saveAsTable` append per
  * mark (6-8 scheduler round-trips per nightly append, measured ~40% of
  * the CDC ingest wall time at bench scale). Crash semantics: the marker
  * is created AFTER its phase's writes commit, creation is atomic
  * (create-fails-if-exists, `overwrite=false`), and a replay probes
  * exactly what the crashed attempt had durably marked.
  */
object PhaseLedger {

  private def dir(warehouseDir: String, name: String): Path =
    new Path(s"$warehouseDir/${name}_applied")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Has `phase` of batch `tag` been marked? */
  def marked(spark: SparkSession, warehouseDir: String, name: String,
      tag: String, phase: String): Boolean = {
    val d = dir(warehouseDir, name)
    val fs = fsOf(spark, d)
    if (fs.exists(new Path(d, s"$tag.$phase"))) true
    else {
      // LEGACY LEDGER GUARD (miss path only — one listing, no Spark
      // jobs): older state recorded applied batches as a bucketed
      // PARQUET TABLE at this same path. State created under that form
      // has no marker files, so treating the miss as "unapplied" would
      // re-apply a replayed batch — a silent double count for the
      // counted join (its side relations already hold the batch's rows,
      // so the read-side distinct cannot absorb the recomputed delta) and
      // a re-closed current slice for SCD2. Fail loudly instead.
      val legacy = fs.exists(d) && fs.listStatus(d).exists(
        _.getPath.getName.endsWith(".parquet"))
      require(!legacy,
        s"$name carries a pre-marker (table-backed) phase ledger at $d " +
          "— its applied-batch history cannot be probed as marker files. " +
          "Re-seed the state before appending.")
      false
    }
  }

  /** Record that `phase` of batch `tag` has durably landed. */
  def mark(spark: SparkSession, warehouseDir: String, name: String,
      tag: String, phase: String): Unit = {
    val d = dir(warehouseDir, name)
    val fs = fsOf(spark, d)
    fs.mkdirs(d)
    fs.create(new Path(d, s"$tag.$phase"), false).close()
  }

  /** Forget every mark. Every seeder of ledgered state calls this FIRST:
    * a leftover ledger from an earlier run of the same state name would
    * make the new state's first batches (stream tags restart at
    * `stream_0` on a fresh checkpoint) short-circuit as already applied.
    */
  def reset(spark: SparkSession, warehouseDir: String, name: String): Unit = {
    val d = dir(warehouseDir, name)
    fsOf(spark, d).delete(d, true)
  }
}
