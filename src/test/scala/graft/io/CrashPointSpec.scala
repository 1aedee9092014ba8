package graft.io

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame

import graft.TestSpark

/** A local filesystem whose MUTATING operations (create / rename /
  * delete / mkdirs) fail after a configurable op budget — the
  * crash-point sweep's instrument ([[CrashPointSpec]]): budget N kills
  * the writer at exactly the (N+1)-th mutation, and because the budget
  * never resets mid-operation, everything after the kill fails too —
  * the dead-writer model, not a transient hiccup. Registered under the
  * `fault://` scheme; verification phases lift the budget.
  */
class FaultFs extends RawLocalFileSystem {
  override def getScheme: String = "fault"
  override def getUri: java.net.URI = java.net.URI.create("fault:///")
  // RawLocalFileSystem exposes BOTH permission and non-permission
  // create/mkdirs overloads as independent entry points (they do not
  // funnel through one abstract method the way HDFS's do) — gate every
  // one, or the committer's part-file creates and _temporary mkdirs
  // silently bypass the sweep (found by FaultProbe's op trace).
  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    FaultFs.gate("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    FaultFs.gate("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize,
      progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    FaultFs.gate("createNonRecursive", f)
    super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress)
  }
  override def append(f: Path, bufferSize: Int, progress: Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    FaultFs.gate("append", f)
    super.append(f, bufferSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.gate("rename", src)
    super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultFs.gate("delete", p)
    super.delete(p, recursive)
  }
  override def mkdirs(f: Path): Boolean = {
    FaultFs.gate("mkdirs", f)
    super.mkdirs(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    // super.mkdirs(f, permission) re-enters mkdirs(f) in some Hadoop
    // versions — gate() here would double-count but never skip; the
    // sweep only needs every boundary REACHABLE, not counted once
    FaultFs.gate("mkdirs", f)
    super.mkdirs(f, permission)
  }
  // listings are not mutations (never gated); listings of a manifest
  // table's root are counted — each one is a version resolution
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    if (f.getName.endsWith(".mv")) FaultFs.manifestListings.incrementAndGet()
    super.listStatus(f)
  }
  // opens of committed manifest files are counted — each one is a parse
  override def open(f: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    if (f.getName.startsWith("_manifest.v"))
      FaultFs.manifestOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object FaultFs {
  val ops = new AtomicLong(0L)
  val manifestListings = new AtomicLong(0L)
  val manifestOpens = new AtomicLong(0L)
  @volatile var budget: Long = Long.MaxValue
  @volatile var trace: Boolean = false
  def arm(b: Long): Unit = { ops.set(0L); budget = b }
  def disarm(): Unit = { budget = Long.MaxValue }
  private[io] def gate(op: String, p: Path): Unit = {
    val n = ops.incrementAndGet()
    if (trace) println(s"FAULTFS #$n $op $p")
    if (n > budget)
      throw new java.io.IOException(
        s"graft injected crash: $op $p (op #$n > budget $budget)")
  }
}

/** The generalized crash-point sweep (VERDICT-r12 #4): for each
  * substrate and each write verb, kill the writer at EVERY filesystem
  * mutation boundary (budget 0, 1, 2, … until the verb completes
  * uninjured) and assert, after every single kill:
  *
  *  1. `exists() ⇒ read()` succeeds — no crash point mints a table
  *     that claims to exist but cannot be read;
  *  2. content is never torn past the verb's documented atomicity:
  *     overwrite/replace leave exactly {old} or {new} (all three
  *     substrates stage-then-commit); append on the MVCC substrate is
  *     all-or-nothing, and on the file substrates never loses an old
  *     row nor shows a row outside old ∪ batch;
  *  3. `recoverAll` heals without error, TWICE (idempotent), and the
  *     invariants above still hold after it;
  *  4. the verb re-run after recovery lands the intended content.
  *
  * The r12 crash rows were hand-picked points on replace/overwrite;
  * this sweep is exhaustive over the actual mutation sequence, which
  * is how it found (r13): the parquet adapter's naive overwrite
  * (deleted live before new content existed — now staged), and both
  * file substrates' recovery rolling PARTIAL first-sight stages
  * forward into unreadable tables (now completeness-gated by
  * _SUCCESS / schema.json).
  */
class CrashPointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val faultReady: Unit = {
    spark.sparkContext.hadoopConfiguration.setClass(
      "fs.fault.impl", classOf[FaultFs], classOf[FileSystem])
  }

  private def old3 = Seq((1L, "a"), (2L, "b"), (3L, "c"))
  private def new3 = Seq((1L, "A2"), (4L, "d"), (5L, "e"))
  private def batch2 = Seq((6L, "f"), (7L, "g"))
  private def df(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("k", "v").coalesce(1)

  private def canon(d: DataFrame): Set[(Long, String)] =
    d.select("k", "v").as[(Long, String)].collect().toSet

  /** One sweep: `prepare` builds the pre-state fresh per attempt
    * (injection off), `op` is the verb under test, `tolerate` is the
    * set-algebra invariant for a crashed attempt's surviving content,
    * `finalOk` the invariant after the healed re-run.
    */
  private def sweep(label: String, adapter: WarehouseAdapter,
      prepare: String => Unit, op: (String, String) => Unit,
      tolerate: Set[(Long, String)] => Boolean,
      finalOk: Set[(Long, String)] => Boolean): Int = {
    faultReady
    val MaxBudget = 400
    var budget = 0
    var crashes = 0
    while (budget <= MaxBudget) {
      val w = s"fault:/tmp/graft-crash/${label.replace(' ', '_')}-$budget"
      FaultFs.disarm()
      val fs = new Path(w).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(w), true)
      prepare(w)
      FaultFs.arm(budget)
      val crashed =
        try { op(w, "t"); false }
        catch { case _: Throwable => true }
      FaultFs.disarm()
      if (!crashed) {
        // the verb ran past every injectable boundary — sweep done
        assert(adapter.exists(spark, w, "t"))
        assert(finalOk(canon(adapter.read(spark, w, "t"))),
          s"$label: clean run landed wrong content")
        assert(crashes > 0,
          s"$label: the sweep never injected — instrument broken?")
        return budget
      }
      crashes += 1
      // a real crash kills the PROCESS — its successor starts with a
      // cold file-listing cache. This sweep stays in one JVM, so drop
      // the shared listing cache explicitly or a post-crash read could
      // fail on the dead writer's pre-rename listing (a simulation
      // artifact, not a substrate defect).
      Seq(s"$w/t", s"$w/t.csvwh/data", s"$w/t.mv").foreach { p =>
        try spark.catalog.refreshByPath(p)
        catch { case _: Throwable => () }
      }
      def check(stage: String): Unit =
        if (adapter.exists(spark, w, "t")) {
          val got =
            try canon(adapter.read(spark, w, "t"))
            catch { case e: Throwable => fail(
              s"$label @$budget $stage: exists() but read threw: $e") }
          assert(tolerate(got),
            s"$label @$budget $stage: torn content $got")
        }
      check("post-crash")
      adapter.recoverAll(spark, w)
      adapter.recoverAll(spark, w) // idempotent
      check("post-recovery")
      // the healed warehouse accepts the verb and lands the intent
      prepare(w) // no-op shape for existing state: rebuild only if gone
      op(w, "t")
      assert(adapter.exists(spark, w, "t"))
      assert(finalOk(canon(adapter.read(spark, w, "t"))),
        s"$label @$budget: post-recovery re-run landed wrong content")
      fs.delete(new Path(w), true)
      budget += 1
    }
    fail(s"$label: verb still crashing at budget $MaxBudget — runaway " +
      "mutation count or a non-healing recovery loop")
  }

  private val oldSet = old3.toSet
  private val newSet = new3.toSet
  private val batchSet = batch2.toSet

  private def substrates: Seq[(String, WarehouseAdapter)] = Seq(
    ("parquet", ParquetWarehouseAdapter),
    ("csv", CsvWarehouseAdapter),
    ("manifest", new ManifestWarehouseAdapter(shards = 2)))

  test("overwrite of a FIRST-SIGHT table: every crash point leaves " +
      "either no table or the complete new one, across all substrates") {
    substrates.foreach { case (name, a) =>
      val pts = sweep(s"$name overwrite-new", a,
        prepare = _ => (),
        op = (w, t) => a.overwrite(df(new3), w, t),
        tolerate = got => got == newSet, // exists ⇒ complete
        finalOk = _ == newSet)
      info(s"$name overwrite-new: swept $pts crash points")
    }
  }

  test("replace FROM SELF of an existing table: every crash point " +
      "leaves exactly the old or the new content, across all substrates") {
    substrates.foreach { case (name, a) =>
      val replaced = oldSet.map { case (k, v) => (k, v + "!") }
      val pts = sweep(s"$name replace", a,
        prepare = w =>
          if (!a.exists(spark, w, "t")) a.overwrite(df(old3), w, "t"),
        op = (w, t) => {
          // derived FROM the table being replaced — the
          // materialization-barrier shape the pipeline needs
          val derived = a.read(spark, w, t)
            .withColumn("v", org.apache.spark.sql.functions
              .concat(org.apache.spark.sql.functions.col("v"),
                org.apache.spark.sql.functions.lit("!")))
          a.replace(spark, w, t, derived)
        },
        tolerate = got => got == oldSet || got == replaced ||
          // post-recovery re-runs re-derive from whatever committed:
          // a second '!' means the prior attempt had already landed
          got == replaced.map { case (k, v) => (k, v + "!") },
        finalOk = got => got.forall(_._2.endsWith("!")) &&
          got.map(_._1) == oldSet.map(_._1))
      info(s"$name replace: swept $pts crash points")
    }
  }

  test("append: MVCC append is all-or-nothing at every crash point; " +
      "file-substrate appends never lose an old row nor leak a row " +
      "from outside the batch") {
    substrates.foreach { case (name, a) =>
      val strict = name == "manifest"
      val pts = sweep(s"$name append", a,
        prepare = w =>
          if (!a.exists(spark, w, "t")) a.overwrite(df(old3), w, "t"),
        op = (w, t) => a.append(df(batch2), w, t),
        tolerate = got =>
          if (strict) got == oldSet || got == (oldSet ++ batchSet)
          else oldSet.subsetOf(got) && got.subsetOf(oldSet ++ batchSet),
        finalOk = _ == (oldSet ++ batchSet))
      info(s"$name append: swept $pts crash points")
    }
  }

  test("a manifest read resolves its version once: one _manifest " +
      "listing per adapter.read and per ManifestVersioned.read") {
    faultReady
    val w = "fault:/tmp/graft-crash/read-once"
    new Path(w).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(w), true)
    val a = new ManifestWarehouseAdapter(shards = 2)
    a.overwrite(df(old3), w, "t")
    a.append(df(batch2), w, "t")
    def listings(body: => Unit): Long = {
      FaultFs.manifestListings.set(0L)
      body
      FaultFs.manifestListings.get
    }
    var read: DataFrame = null
    assert(listings { read = a.read(spark, w, "t") } === 1L)
    assert(canon(read) === oldSet ++ batchSet)
    assert(listings { ManifestVersioned.read(spark, w, "t") } === 1L)
    assert(listings { ManifestVersioned.read(spark, w, "t", Some(1)) } === 0L,
      "a pinned version needs no listing at all")
  }

  test("history parses each committed manifest once: N versions, " +
      "N manifest opens") {
    faultReady
    val w = "fault:/tmp/graft-crash/history-once"
    new Path(w).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(w), true)
    ManifestVersioned.writeFull(spark, w, "h", df(old3), "v")
    ManifestVersioned.writeDelta(spark, w, "h", df(batch2), "v")
    ManifestVersioned.writeDelta(spark, w, "h", df(new3), "v")
    FaultFs.manifestOpens.set(0L)
    val h = ManifestVersioned.history(spark, w, "h")
    assert(FaultFs.manifestOpens.get === 3L,
      "one open per version — every history column derives from one parse")
    assert(h.select("version", "n_partitions", "n_rows", "part_cols")
      .as[(Int, Long, Long, String)].collect().toSeq === Seq(
        (3, 8L, 8L, "v"), (2, 5L, 5L, "v"), (1, 3L, 3L, "v")))
  }
}
