package graft.core

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, lit, to_timestamp}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.io.Tables

/** Three-round end-to-end scenario from FIXTURES.md §A.4: full load, then a
  * schema-drifting incremental, then tombstone + tie round. Exercises the whole
  * reference pipeline on bc2adls-shaped CSV: suffixed/duplicate columns,
  * $company rename, temporal stringify, watermark file filtering, aligned
  * union, tombstone delete, latest-wins dedup.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val zero = Pipeline.ZeroGuid
  private val clock = to_timestamp(lit("2026-01-01 00:00:00"))

  private def write(path: String, mtime: Long, lines: String*): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), lines.mkString("\n").getBytes)
    assert(new File(path).setLastModified(mtime))
  }

  test("3-round incremental pipeline reaches the golden final table") {
    val root = Files.createTempDirectory("graft-e2e").toString
    val cfg = Pipeline.Config(
      sourceRoot = s"$root/src",
      warehouseDir = s"$root/warehouse",
      statePath = s"$root/state/latest.csv")
    val folder = "Customer-Ledger"
    val header = "systemid,systemcreatedat-2000000001,systemcreatedby-2000000002," +
      "systemmodifiedat-2000000003,systemmodifiedby-2000000004,$company,No-1,Name-2,name-3,Amount-3"
    val t1 = 1700000000000L

    // ---- round 1: full load. A has two versions; Name-2/name-3 collide -> dropped.
    write(s"${cfg.sourceRoot}/$folder/f1.csv", t1,
      header,
      s"A,2024-01-01 08:00:00,{u1},2024-01-01 08:00:00,{u1},CRONUS,10000,Adatum,DUP,100.5",
      s"A,2024-01-01 08:00:00,{u1},2024-01-05 09:30:00,{u1},CRONUS,10001,Adatum2,DUP,150.5",
      s"B,2024-01-02 08:00:00,{u1},2024-01-02 08:00:00,{u1},CRONUS,10002,Bcorp,DUP,200.0",
      s"C,2024-01-03 08:00:00,{u1},2024-01-03 08:00:00,{u1},CRONUS,10003,Ccorp,DUP,300.0",
      s"D,2024-01-04 08:00:00,{u1},2024-01-04 08:00:00,{u1},CRONUS,10004,Dcorp,DUP,400.0",
      s"E,2024-01-05 08:00:00,{u1},2024-01-05 08:00:00,{u1},CRONUS,10005,Ecorp,DUP,500.0")
    val r1 = Pipeline.run(spark, cfg, clock = clock).tables
    assert(r1.map(_.rows.get) === Seq(5L))

    val after1 = Tables.readWarehouse(spark, cfg.warehouseDir, "customerledger")
    assert(after1.count() === 5)
    assert(!after1.columns.contains("name"), "duplicated normalized name must drop ALL copies")
    assert(after1.columns.contains("_company") && !after1.columns.contains("$company"))
    assert(after1.schema("systemmodifiedat").dataType ===
      org.apache.spark.sql.types.StringType, "temporals degrade to strings")
    assert(after1.filter(col("systemid") === "A")
      .select("amount").collect().head.getDouble(0) === 150.5, "latest A version wins")

    // ---- round 2: incremental with schema drift (NewCol-9), update B, insert F.
    write(s"${cfg.sourceRoot}/$folder/f2.csv", t1 + 60000,
      "systemid,systemcreatedat-2000000001,systemcreatedby-2000000002," +
        "systemmodifiedat-2000000003,systemmodifiedby-2000000004,$company,No-1,Amount-3,NewCol-9",
      s"B,2024-01-02 08:00:00,{u1},2024-02-01 08:00:00,{u2},CRONUS,10002,999.0,x",
      s"F,2024-02-01 08:00:00,{u1},2024-02-01 08:00:00,{u1},CRONUS,10006,600.0,y")
    val r2 = Pipeline.run(spark, cfg, clock = clock).tables
    assert(r2.map(_.rows.get) === Seq(6L))

    val after2 = Tables.readWarehouse(spark, cfg.warehouseDir, "customerledger")
    assert(after2.count() === 6)
    assert(after2.columns.contains("newcol"), "drifted column joins the schema")
    assert(after2.filter(col("systemid") === "B")
      .select("amount").collect().head.getDouble(0) === 999.0)
    assert(after2.filter(col("systemid") === "A")
      .select("newcol").collect().head.isNullAt(0), "pre-drift rows null-fill")

    // ---- round 3: tombstone C; tie-update D (same modifiedat twice).
    write(s"${cfg.sourceRoot}/$folder/f3.csv", t1 + 120000,
      "systemid,systemcreatedat-2000000001,systemcreatedby-2000000002," +
        "systemmodifiedat-2000000003,systemmodifiedby-2000000004,$company,No-1,Amount-3,NewCol-9",
      s"C,,$zero,,$zero,CRONUS,,,",
      s"D,2024-01-04 08:00:00,{u1},2024-03-01 08:00:00,{u3},CRONUS,10004,1.0,t1",
      s"D,2024-01-04 08:00:00,{u1},2024-03-01 08:00:00,{u3},CRONUS,10004,2.0,t2")
    val r3 = Pipeline.run(spark, cfg, clock = clock).tables
    assert(r3.map(_.rows.get) === Seq(5L))

    val after3 = Tables.readWarehouse(spark, cfg.warehouseDir, "customerledger")
    assert(after3.count() === 5)
    assert(after3.filter(col("systemid") === "C").count() === 0, "tombstone kills all versions")
    val dRows = after3.filter(col("systemid") === "D").collect()
    assert(dRows.length === 1, "exactly one survivor under a modifiedat tie")
    assert(dRows.head.getAs[String]("systemmodifiedat") === "2024-03-01 08:00:00")
    assert(after3.filter(col("systemid") === "F").count() === 1)

    // ---- no new files: C4 short-circuit leaves the table untouched.
    val r4 = Pipeline.run(spark, cfg, clock = clock).tables
    assert(r4.map(_.rows.get) === Seq(0L))
    assert(Tables.readWarehouse(spark, cfg.warehouseDir, "customerledger").count() === 5)
  }

  test("the SAME 3-round pipeline runs green on the CSV warehouse " +
      "adapter — the warehouse boundary carries no parquet assumptions") {
    val root = Files.createTempDirectory("graft-e2e-csv").toString
    val cfg = Pipeline.Config(
      sourceRoot = s"$root/src",
      warehouseDir = s"$root/warehouse",
      statePath = s"$root/state/latest.csv",
      adapter = graft.io.CsvWarehouseAdapter)
    val folder = "Customer-Ledger"
    val header = "systemid,systemcreatedat-2000000001," +
      "systemcreatedby-2000000002,systemmodifiedat-2000000003," +
      "systemmodifiedby-2000000004,$company,No-1,Amount-3"
    val t1 = 1700000000000L
    write(s"${cfg.sourceRoot}/$folder/f1.csv", t1,
      header,
      s"A,2024-01-01 08:00:00,{u1},2024-01-01 08:00:00,{u1},CRONUS,10000,100.5",
      s"A,2024-01-01 08:00:00,{u1},2024-01-05 09:30:00,{u1},CRONUS,10001,150.5",
      s"B,2024-01-02 08:00:00,{u1},2024-01-02 08:00:00,{u1},CRONUS,10002,200.0",
      s"C,2024-01-03 08:00:00,{u1},2024-01-03 08:00:00,{u1},CRONUS,10003,300.0")
    assert(Pipeline.run(spark, cfg, clock = clock).tables.map(_.rows.get) ===
      Seq(3L))
    val after1 = cfg.adapter.read(spark, cfg.warehouseDir, "customerledger")
    assert(after1.count() === 3)
    assert(after1.filter(col("systemid") === "A")
      .select("amount").collect().head.getDouble(0) === 150.5,
      "latest A version wins on the csv substrate too")
    // round 2: incremental (read csv warehouse, merge, replace csv)
    write(s"${cfg.sourceRoot}/$folder/f2.csv", t1 + 60000,
      header,
      s"B,2024-01-02 08:00:00,{u1},2024-02-01 08:00:00,{u2},CRONUS,10002,999.0",
      s"D,2024-02-01 08:00:00,{u1},2024-02-01 08:00:00,{u1},CRONUS,10004,400.0")
    assert(Pipeline.run(spark, cfg, clock = clock).tables.map(_.rows.get) ===
      Seq(4L))
    // round 3: tombstone C
    write(s"${cfg.sourceRoot}/$folder/f3.csv", t1 + 120000,
      header,
      s"C,,$zero,,$zero,CRONUS,,")
    assert(Pipeline.run(spark, cfg, clock = clock).tables.map(_.rows.get) ===
      Seq(3L))
    val after3 = cfg.adapter.read(spark, cfg.warehouseDir, "customerledger")
    assert(after3.count() === 3)
    assert(after3.filter(col("systemid") === "C").count() === 0)
    assert(after3.filter(col("systemid") === "B")
      .select("amount").collect().head.getDouble(0) === 999.0)
    // C4 short-circuit
    assert(Pipeline.run(spark, cfg, clock = clock).tables.map(_.rows.get) ===
      Seq(0L))
    // and nothing parquet-shaped exists in this warehouse
    val whFiles = new File(cfg.warehouseDir).listFiles().map(_.getName)
    assert(whFiles.forall(_.endsWith(".csvwh")),
      s"csv warehouse must hold only .csvwh tables, got " +
        whFiles.mkString(", "))
  }

  test("explicit folder override skips discovery and the state commit") {
    val root = Files.createTempDirectory("graft-e2e2").toString
    val cfg = Pipeline.Config(
      sourceRoot = s"$root/src",
      warehouseDir = s"$root/warehouse",
      statePath = s"$root/state/latest.csv")
    write(s"${cfg.sourceRoot}/T1/f.csv", 1700000000000L,
      "systemid,systemmodifiedat-1,systemcreatedat-2,systemcreatedby-3,systemmodifiedby-4,Amount-5",
      "X,2024-01-01 00:00:00,2024-01-01 00:00:00,{u},{u},1.0")
    val res = Pipeline.run(spark, cfg, explicit = Seq("T1"), clock = clock).tables
    assert(res.map(_.rows.get) === Seq(1L))
    assert(WatermarkStore.load(spark, cfg.statePath) === Map.empty,
      "explicit run must not commit the watermark (incremental_etl_v1.py:201)")
  }

  test("per-table fault isolation: one bad folder does not kill the run") {
    val root = Files.createTempDirectory("graft-e2e3").toString
    val cfg = Pipeline.Config(
      sourceRoot = s"$root/src",
      warehouseDir = s"$root/warehouse",
      statePath = s"$root/state/latest.csv")
    write(s"${cfg.sourceRoot}/Good/f.csv", 1700000000000L,
      "systemid,systemmodifiedat-1,systemcreatedat-2,systemcreatedby-3,systemmodifiedby-4,Amount-5",
      "X,2024-01-01 00:00:00,2024-01-01 00:00:00,{u},{u},1.0")
    write(s"${cfg.sourceRoot}/Bad/f.csv", 1700000000000L,
      "not_systemid,foo", "1,2") // missing merge key -> per-table failure
    val res = Pipeline.run(spark, cfg, clock = clock).tables
    assert(res.find(_.folder == "Good").get.rows.isSuccess)
    assert(res.find(_.folder == "Bad").get.rows.isFailure)
    // a FAILED folder's watermark must NOT advance: advancing it would
    // put its files below the recorded mark and the next (fixed) run
    // would silently skip them forever — the reference's own
    // update-after-try/except data-loss shape, not reproduced (§2.12)
    val state = WatermarkStore.load(spark, cfg.statePath)
    assert(state.contains("Good") && !state.contains("Bad"),
      s"only the successful folder commits a watermark, got $state")
    // fix Bad (a real header this time) — the re-run picks it up as a
    // FULL load (no watermark recorded) and its rows land
    write(s"${cfg.sourceRoot}/Bad/f.csv", 1700000001000L,
      "systemid,systemmodifiedat-1,systemcreatedat-2,systemcreatedby-3,systemmodifiedby-4,Amount-5",
      "Y,2024-01-02 00:00:00,2024-01-02 00:00:00,{u},{u},2.0")
    val res2 = Pipeline.run(spark, cfg, clock = clock)
    assert(res2.tables.find(_.folder == "Bad").get.rows.get === 1L)
    assert(res2.stateCommitted)
    val state2 = WatermarkStore.load(spark, cfg.statePath)
    assert(state2.contains("Bad") && state2.contains("Good"),
      "the retained Good mark must survive the partial-state save")
    assert(Tables.readWarehouse(spark, cfg.warehouseDir, "bad")
      .count() === 1)
  }

  test("startup recovery repairs every crash shape a died run leaves behind") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val root = Files.createTempDirectory("graft-e2e4").toString
    val cfg = Pipeline.Config(
      sourceRoot = s"$root/src",
      warehouseDir = s"$root/warehouse",
      statePath = s"$root/state/latest.csv")
    val fs = new Path(cfg.warehouseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // shape 1: replaceWarehouse died between delete and rename — the swap
    // copy IS the committed table
    Seq((1L, "new")).toDF("id", "v").write
      .parquet(s"${cfg.warehouseDir}/t1._swap")
    // shape 2: replaceWarehouse died before the live delete — live stands,
    // the uncommitted swap is debris
    Seq((2L, "old")).toDF("id", "v").write.parquet(s"${cfg.warehouseDir}/t2")
    Seq((2L, "uncommitted")).toDF("id", "v").write
      .parquet(s"${cfg.warehouseDir}/t2._swap")

    Pipeline.recover(spark, cfg)

    assert(spark.read.parquet(s"${cfg.warehouseDir}/t1")
      .as[(Long, String)].collect().toSeq === Seq((1L, "new")))
    assert(spark.read.parquet(s"${cfg.warehouseDir}/t2")
      .as[(Long, String)].collect().toSeq === Seq((2L, "old")))
    assert(!fs.exists(new Path(s"${cfg.warehouseDir}/t2._swap")))
    // and recovery is idempotent
    Pipeline.recover(spark, cfg)
    assert(spark.read.parquet(s"${cfg.warehouseDir}/t1").count() === 1)
  }

  /** The r13 scale closure (VERDICT-r12 #1): MergeMode routes the
    * nightly batch through the manifest substrate's keyed versioned
    * merge instead of read-merge-replace. Three things are the
    * contract, all pinned here against the SAME source fixture run
    * under both modes with identical pinned clocks:
    *  1. the final table is bit-identical to OverwriteMode — every
    *     column including extracted_at, every row, same types;
    *  2. night 2/3 commits are O(batch): the new version's manifest
    *     REUSES night 1's generation dirs for every bucket not holding
    *     a changed key (no full-generation rewrite), and
    *  3. those untouched generation dirs stay byte-identical on disk.
    */
  test("MergeMode is bit-identical to OverwriteMode across 3 nights " +
      "and commits O(batch): untouched key buckets keep their night-1 " +
      "generation dirs, byte for byte") {
    import org.apache.spark.sql.functions.{lit => flit, pmod, xxhash64}
    val root = Files.createTempDirectory("graft-mergemode").toString
    val shards = 8
    def cfgFor(tag: String, mode: Pipeline.LoadMode) = Pipeline.Config(
      sourceRoot = s"$root/src",
      warehouseDir = s"$root/wh-$tag",
      statePath = s"$root/state-$tag/latest.csv",
      adapter = new graft.io.ManifestWarehouseAdapter(shards = shards),
      mode = mode)
    val ow = cfgFor("ow", Pipeline.OverwriteMode)
    val mg = cfgFor("mg", Pipeline.MergeMode)
    val folder = "Customer-Ledger"
    val header = "systemid,systemcreatedat-2000000001," +
      "systemcreatedby-2000000002,systemmodifiedat-2000000003," +
      "systemmodifiedby-2000000004,$company,No-1,Amount-3"
    val t1 = 1700000000000L

    def table(cfg: Pipeline.Config) =
      cfg.adapter.read(spark, cfg.warehouseDir, "customerledger")
    def canon(cfg: Pipeline.Config): (Seq[(String, String)], Seq[String]) = {
      val df = table(cfg)
      val cols = df.columns.sorted.toSeq
      (df.schema.fields.map(f => (f.name, f.dataType.simpleString))
        .sortBy(_._1).toSeq,
        df.select(cols.map(col): _*).collect()
          .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq)
    }
    def assertIdentical(night: String): Unit = {
      val (schemaO, rowsO) = canon(ow)
      val (schemaM, rowsM) = canon(mg)
      assert(schemaM === schemaO, s"$night: schemas diverged")
      assert(rowsM === rowsO, s"$night: rows diverged")
    }
    // every file under the merge table's dir, relative path -> md5
    def fileHashes(): Map[String, String] = {
      val base = Paths.get(s"${mg.warehouseDir}/customerledger.mv")
      val out = scala.collection.mutable.Map.empty[String, String]
      java.nio.file.Files.walk(base).forEach { p =>
        if (java.nio.file.Files.isRegularFile(p)) {
          val d = java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(p))
          out(base.relativize(p).toString) =
            d.map("%02x".format(_)).mkString
        }
      }
      out.toMap
    }
    // manifest-entry keys for the buckets holding these merge keys
    // (entry keys are keyOf-encoded partition values)
    def bucketsOf(keys: String*): Set[String] = {
      import spark.implicits._
      keys.toDF("k").select(pmod(xxhash64(col("k")),
        flit(shards.toLong)).cast("string")).collect()
        .map(r => graft.io.ManifestVersioned.keyOf("k" + r.getString(0)))
        .toSet
    }

    // ---- night 1: full load (A twice -> latest-wins; B, C, D)
    write(s"$root/src/$folder/f1.csv", t1,
      header,
      s"A,2024-01-01 08:00:00,{u1},2024-01-01 08:00:00,{u1},CRONUS,10000,100.5",
      s"A,2024-01-01 08:00:00,{u1},2024-01-05 09:30:00,{u1},CRONUS,10001,150.5",
      s"B,2024-01-02 08:00:00,{u1},2024-01-02 08:00:00,{u1},CRONUS,10002,200.0",
      s"C,2024-01-03 08:00:00,{u1},2024-01-03 08:00:00,{u1},CRONUS,10003,300.0",
      s"D,2024-01-04 08:00:00,{u1},2024-01-04 08:00:00,{u1},CRONUS,10004,400.0")
    assert(Pipeline.run(spark, ow, clock = clock).tables.map(_.rows.get)
      === Seq(4L))
    assert(Pipeline.run(spark, mg, clock = clock).tables.map(_.rows.get)
      === Seq(4L))
    assertIdentical("night 1")
    val v1 = graft.io.ManifestVersioned
      .listVersions(spark, mg.warehouseDir, "customerledger").max
    val entries1 = graft.io.ManifestVersioned
      .manifestEntries(spark, mg.warehouseDir, "customerledger", Some(v1))
    val hashes1 = fileHashes()

    // ---- night 2: update B + new E (schema drift: NewCol-9 joins)
    write(s"$root/src/$folder/f2.csv", t1 + 60000,
      "systemid,systemcreatedat-2000000001,systemcreatedby-2000000002," +
        "systemmodifiedat-2000000003,systemmodifiedby-2000000004," +
        "$company,No-1,Amount-3,NewCol-9",
      s"B,2024-01-02 08:00:00,{u1},2024-02-01 08:00:00,{u2},CRONUS,10002,999.0,x",
      s"E,2024-02-01 08:00:00,{u1},2024-02-01 08:00:00,{u1},CRONUS,10005,500.0,y")
    assert(Pipeline.run(spark, ow, clock = clock).tables.map(_.rows.get)
      === Seq(5L))
    assert(Pipeline.run(spark, mg, clock = clock).tables.map(_.rows.get)
      === Seq(5L))
    assertIdentical("night 2")
    // O(batch): buckets NOT holding B or E keep their night-1
    // generation dir in the new manifest (dir reuse = not rewritten)
    val v2 = graft.io.ManifestVersioned
      .listVersions(spark, mg.warehouseDir, "customerledger").max
    assert(v2 > v1)
    val entries2 = graft.io.ManifestVersioned
      .manifestEntries(spark, mg.warehouseDir, "customerledger", Some(v2))
    val changed2 = bucketsOf("B", "E")
    val untouched1 = entries1.filterNot { case (k, _) =>
      changed2.contains(k) }
    assert(untouched1.nonEmpty,
      "fixture must leave at least one untouched bucket for the pin " +
        "to bite — widen the key set if the hash ever colocates all")
    untouched1.foreach { case (k, e) =>
      assert(entries2.get(k).map(_.dir) === Some(e.dir),
        s"night 2 rewrote untouched bucket $k — the commit is not " +
          "O(batch)")
    }
    // ... and those dirs are byte-identical on disk
    val hashes2 = fileHashes()
    val untouchedDirs = untouched1.values.map(_.dir).toSet
    val night1Files = hashes1.keySet.filter(p =>
      untouchedDirs.exists(p.startsWith))
    assert(night1Files.nonEmpty)
    night1Files.foreach { p =>
      assert(hashes2.get(p) === Some(hashes1(p)),
        s"untouched generation file $p changed bytes across night 2")
    }

    // ---- night 3: tombstone C + tie-update D
    write(s"$root/src/$folder/f3.csv", t1 + 120000,
      "systemid,systemcreatedat-2000000001,systemcreatedby-2000000002," +
        "systemmodifiedat-2000000003,systemmodifiedby-2000000004," +
        "$company,No-1,Amount-3,NewCol-9",
      s"C,,$zero,,$zero,CRONUS,,,",
      s"D,2024-01-04 08:00:00,{u1},2024-03-01 08:00:00,{u3},CRONUS,10004,1.0,t1",
      s"D,2024-01-04 08:00:00,{u1},2024-03-01 08:00:00,{u3},CRONUS,10004,2.0,t2")
    assert(Pipeline.run(spark, ow, clock = clock).tables.map(_.rows.get)
      === Seq(4L))
    assert(Pipeline.run(spark, mg, clock = clock).tables.map(_.rows.get)
      === Seq(4L))
    assertIdentical("night 3")
    assert(table(mg).filter(col("systemid") === "C").count() === 0,
      "tombstone deletes through the keyed merge")
    // night 3 likewise reuses every untouched bucket's dir
    val v3 = graft.io.ManifestVersioned
      .listVersions(spark, mg.warehouseDir, "customerledger").max
    val entries3 = graft.io.ManifestVersioned
      .manifestEntries(spark, mg.warehouseDir, "customerledger", Some(v3))
    val changed3 = bucketsOf("C", "D")
    entries2.filterNot { case (k, _) => changed3.contains(k) }
      .foreach { case (k, e) =>
        assert(entries3.get(k).map(_.dir) === Some(e.dir),
          s"night 3 rewrote untouched bucket $k")
      }
    // the MVCC dividend survives the mode: one version per night
    assert(graft.io.ManifestVersioned
      .listVersions(spark, mg.warehouseDir, "customerledger").size === 3)
    // C4 short-circuit holds in merge mode too
    assert(Pipeline.run(spark, mg, clock = clock).tables.map(_.rows.get)
      === Seq(0L))
  }

  // ── key-shard declaration: the one-pass keyed merge ──────────────

  private val ledgerFolder = "Customer-Ledger"
  private val ledgerTable = "customerledger"

  /** Night `n` (1-3) of the Customer-Ledger fixture the MergeMode spec
    * above runs: a full load, an update + insert with schema drift, a
    * tombstone + tie update.
    */
  private def writeLedgerNight(root: String, n: Int): Unit = {
    val t1 = 1700000000000L
    val header = "systemid,systemcreatedat-2000000001," +
      "systemcreatedby-2000000002,systemmodifiedat-2000000003," +
      "systemmodifiedby-2000000004,$company,No-1,Amount-3"
    val path = s"$root/src/$ledgerFolder/f$n.csv"
    n match {
      case 1 => write(path, t1, header,
        s"A,2024-01-01 08:00:00,{u1},2024-01-01 08:00:00,{u1},CRONUS,10000,100.5",
        s"A,2024-01-01 08:00:00,{u1},2024-01-05 09:30:00,{u1},CRONUS,10001,150.5",
        s"B,2024-01-02 08:00:00,{u1},2024-01-02 08:00:00,{u1},CRONUS,10002,200.0",
        s"C,2024-01-03 08:00:00,{u1},2024-01-03 08:00:00,{u1},CRONUS,10003,300.0",
        s"D,2024-01-04 08:00:00,{u1},2024-01-04 08:00:00,{u1},CRONUS,10004,400.0")
      case 2 => write(path, t1 + 60000, header + ",NewCol-9",
        s"B,2024-01-02 08:00:00,{u1},2024-02-01 08:00:00,{u2},CRONUS,10002,999.0,x",
        s"E,2024-02-01 08:00:00,{u1},2024-02-01 08:00:00,{u1},CRONUS,10005,500.0,y")
      case 3 => write(path, t1 + 120000, header + ",NewCol-9",
        s"C,,$zero,,$zero,CRONUS,,,",
        s"D,2024-01-04 08:00:00,{u1},2024-03-01 08:00:00,{u3},CRONUS,10004,1.0,t1",
        s"D,2024-01-04 08:00:00,{u1},2024-03-01 08:00:00,{u3},CRONUS,10004,2.0,t2")
    }
  }

  private def manifestCfg(root: String, tag: String,
      mode: Pipeline.LoadMode) = Pipeline.Config(
    sourceRoot = s"$root/src",
    warehouseDir = s"$root/wh-$tag",
    statePath = s"$root/state-$tag/latest.csv",
    adapter = new graft.io.ManifestWarehouseAdapter(shards = 8),
    mode = mode)

  /** The table as sorted schema + sorted rendered rows. */
  private def canonOf(cfg: Pipeline.Config)
      : (Seq[(String, String)], Seq[String]) = {
    val df = cfg.adapter.read(spark, cfg.warehouseDir, ledgerTable)
    val cols = df.columns.sorted.toSeq
    (df.schema.fields.map(f => (f.name, f.dataType.simpleString))
      .sortBy(_._1).toSeq,
      df.select(cols.map(col): _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq)
  }

  private def rows(cfg: Pipeline.Config): Seq[Long] =
    Pipeline.run(spark, cfg, clock = clock).tables.map(_.rows.get)

  /** Runs `body` and returns, per Spark job it started, the call-site
    * long form of the job's SQL execution (else of its stages) — the
    * frames that say which engine call issued the job.
    */
  private def jobSites(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execSites.put(s.executionId, s.details)
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val exec = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execSites.get(id.toLong)))
        sites.add(exec.getOrElse(j.stageInfos.map(_.details).mkString("\n")))
      }
    }
    org.apache.spark.GraftTestBus.flush(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.GraftTestBus.flush(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    sites.asScala.toSeq
  }

  private def fromLocate(site: String): Boolean =
    site.contains("locateCandidates(") || site.contains("BloomSidecar$.prune(")

  test("a MergeMode night on a key-shard-declared table is one pass: no " +
      "locate or bloom-probe job, a bounded job count, and one data " +
      "file per touched bucket") {
    val root = Files.createTempDirectory("graft-onepass").toString
    val mg = manifestCfg(root, "mg", Pipeline.MergeMode)
    writeLedgerNight(root, 1)
    assert(rows(mg) === Seq(4L))
    assert(graft.io.ManifestVersioned.generatedColumns(spark,
        mg.warehouseDir, ledgerTable).map(s => (s.genCol, s.fn, s.src)) ===
      Seq(("_graft_shard", "keybucket", "systemid")),
      "the merge bootstrap declares its shard column")
    val before = graft.io.ManifestVersioned.manifestEntries(spark,
      mg.warehouseDir, ledgerTable)
    writeLedgerNight(root, 2)
    val sites = jobSites { assert(rows(mg) === Seq(5L)) }
    assert(sites.exists(_.contains("mergeVersionedAt(")),
      s"none of ${sites.size} job call sites carries the merge's own " +
        "frames, so the pin below could not bite")
    assert(!sites.exists(fromLocate),
      "the one-pass merge ran a locate/bloom-probe job")
    // the whole night measured 15 jobs: watermark load 1, CSV read 2,
    // the touched-bucket collect that fills the change cache 3, the
    // merge's stage write 2, the key bloom stage 4, the post-load count
    // 2, watermark save 1 (the locate path ran 27)
    info(s"${sites.size} Spark jobs in the night")
    assert(sites.size <= 15, s"${sites.size} jobs")
    val after = graft.io.ManifestVersioned.manifestEntries(spark,
      mg.warehouseDir, ledgerTable)
    val rewritten = after.filter { case (k, e) =>
      before.get(k).forall(_.dir != e.dir) }
    assert(rewritten.nonEmpty)
    rewritten.values.foreach { e =>
      val files = new File(s"${mg.warehouseDir}/$ledgerTable.mv/${e.dir}")
        .listFiles().map(_.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
      assert(files.length === 1,
        s"bucket ${e.dir} holds ${files.mkString(", ")}")
    }
  }

  test("MergeMode bootstrap, an OverwriteMode night, then a MergeMode " +
      "night equal OverwriteMode; the full rewrite keeps the key-bucketed " +
      "layout and its declaration") {
    val root = Files.createTempDirectory("graft-mixmode").toString
    val ow = manifestCfg(root, "ow", Pipeline.OverwriteMode)
    val modes = Seq(Pipeline.MergeMode, Pipeline.OverwriteMode,
      Pipeline.MergeMode)
    (1 to 3).foreach { night =>
      writeLedgerNight(root, night)
      val mx = manifestCfg(root, "mx", modes(night - 1))
      val sites = jobSites { assert(rows(mx) === rows(ow)) }
      assert(canonOf(mx) === canonOf(ow), s"night $night diverged")
      assert(graft.io.ManifestVersioned.generatedColumns(spark,
        mx.warehouseDir, ledgerTable).map(_.genCol) === Seq("_graft_shard"))
      val buckets = graft.io.ManifestVersioned.manifestEntries(spark,
        mx.warehouseDir, ledgerTable).keys
        .map(graft.io.ManifestVersioned.valueOf)
      assert(buckets.nonEmpty && buckets.forall(_.matches("k[0-7]")),
        s"night $night left non-key buckets: $buckets")
      if (night == 3) assert(!sites.exists(fromLocate),
        "the merge after a full rewrite fell back to the locate path")
    }
  }

  test("undeclared tables take the general merge path and still equal " +
      "OverwriteMode: an OverwriteMode bootstrap, and a MergeMode " +
      "bootstrap without the shard declaration") {
    val root = Files.createTempDirectory("graft-undeclared").toString
    val ow = manifestCfg(root, "ow", Pipeline.OverwriteMode)
    val fromOverwrite = Seq(Pipeline.OverwriteMode, Pipeline.MergeMode,
      Pipeline.MergeMode).map(manifestCfg(root, "fo", _))
    val legacy = manifestCfg(root, "lg", Pipeline.MergeMode)
    (1 to 3).foreach { night =>
      writeLedgerNight(root, night)
      val expect = rows(ow)
      val sites = jobSites {
        assert(rows(fromOverwrite(night - 1)) === expect)
        assert(rows(legacy) === expect)
      }
      if (night == 1)
        // the layout a merge bootstrap wrote before the declaration
        // existed: same key buckets, no graft.generated property
        graft.io.ManifestVersioned.unsetTableProperties(spark,
          legacy.warehouseDir, ledgerTable,
          Seq(graft.io.GenCols.Prefix + "_graft_shard"))
      else assert(sites.count(fromLocate) >= 2,
        s"night $night: both undeclared merges must locate")
      Seq(fromOverwrite(night - 1), legacy).foreach { cfg =>
        assert(graft.io.ManifestVersioned.generatedColumns(spark,
          cfg.warehouseDir, ledgerTable).isEmpty)
        assert(canonOf(cfg) === canonOf(ow),
          s"night $night: ${cfg.warehouseDir} diverged")
      }
    }
  }

  test("MergeMode equals OverwriteMode when a night's CSV infers the " +
      "key as another type: int then long, and string then int") {
    val root = Files.createTempDirectory("graft-keytype").toString
    val t1 = 1700000000000L
    val header = "systemid,systemcreatedat-2000000001," +
      "systemcreatedby-2000000002,systemmodifiedat-2000000003," +
      "systemmodifiedby-2000000004,$company,Amount-3"
    def row(id: String, day: Int, amount: Double) =
      f"$id,2024-01-01 08:00:00,{u1},2024-01-$day%02d 08:00:00,{u1}," +
        f"CRONUS,$amount%.1f"
    def tomb(id: String) = s"$id,,$zero,,$zero,CRONUS,"
    // Int-Keys: night 1 infers int, night 2 long (one key past 2^31);
    // Str-Keys: night 1 infers string, night 2 int
    def night(n: Int): Unit = n match {
      case 1 =>
        write(s"$root/src/Int-Keys/f1.csv", t1,
          header +: (1 to 24).map(i => row(i.toString, 1, i)): _*)
        write(s"$root/src/Str-Keys/f1.csv", t1,
          header +: ("a1" +: (2 to 24).map(_.toString))
            .map(row(_, 1, 1.0)): _*)
      case 2 =>
        write(s"$root/src/Int-Keys/f2.csv", t1 + 60000, header,
          row("3", 2, 30.5), row("9", 2, 90.5), row("14", 2, 140.5),
          tomb("5"), row("5000000000", 2, 1.5))
        write(s"$root/src/Str-Keys/f2.csv", t1 + 60000, header,
          row("7", 2, 70.5), row("8", 2, 80.5), tomb("11"),
          row("25", 2, 2.5))
    }
    val ow = manifestCfg(root, "ow", Pipeline.OverwriteMode)
    val mg = manifestCfg(root, "mg", Pipeline.MergeMode)
    def canon(cfg: Pipeline.Config, table: String) = {
      val df = cfg.adapter.read(spark, cfg.warehouseDir, table)
      val cols = df.columns.sorted.toSeq
      (df.schema.fields.map(f => (f.name, f.dataType.simpleString))
        .sortBy(_._1).toSeq,
        df.select(cols.map(col): _*).collect()
          .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq)
    }
    (1 to 2).foreach { n =>
      night(n)
      assert(rows(mg) === rows(ow), s"night $n")
      Seq("intkeys", "strkeys").foreach { t =>
        assert(canon(mg, t) === canon(ow, t), s"night $n: $t diverged")
        val ids = mg.adapter.read(spark, mg.warehouseDir, t)
          .select("systemid")
        assert(ids.count() === ids.distinct().count(),
          s"night $n: $t holds a key twice")
      }
    }
    val types = Seq("intkeys", "strkeys").map(t => mg.adapter
      .read(spark, mg.warehouseDir, t).schema("systemid").dataType)
    assert(types === Seq(org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.StringType))
    assert(mg.adapter.read(spark, mg.warehouseDir, "intkeys").count() === 24)
    assert(mg.adapter.read(spark, mg.warehouseDir, "strkeys").count() === 24)
  }

  test("SQL INSERT into a key-shard-declared table verifies the shard: " +
      "a wrong value is rejected, the derived one lands") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-shardins").toString
    val adapter = new graft.io.ManifestWarehouseAdapter(shards = 8)
    adapter.mergeBootstrap(Seq(("A", 1.0), ("B", 2.0))
      .toDF("systemid", "amount"), wh, "shardins", "systemid")
    graft.plans.GraftSqlTables.register(spark, wh, "shardins",
      keyCol = Some("systemid"))
    val spec = graft.io.ManifestVersioned
      .generatedColumns(spark, wh, "shardins").head
    val right = graft.io.GenCols.deriveLit(spec, "C").get.toString
    val wrong = if (right == "k0") "k1" else "k0"
    val v0 = graft.io.ManifestVersioned.currentVersion(spark, wh, "shardins")
    Seq(("C", 3.0, wrong)).toDF("systemid", "amount", "_graft_shard")
      .createOrReplaceTempView("shardins_src")
    // a generated column is hidden from positional INSERT; naming it in
    // the column list provides it, and the write gate verifies it
    val e = intercept[Exception] {
      spark.sql("INSERT INTO shardins (systemid, amount, _graft_shard) " +
        "SELECT * FROM shardins_src")
    }
    assert(e.getMessage.contains("_graft_shard"), e.getMessage)
    assert(graft.io.ManifestVersioned.currentVersion(spark, wh,
      "shardins") === v0, "a rejected insert commits nothing")
    spark.sql("INSERT INTO shardins VALUES ('C', 3.0)")
    assert(adapter.read(spark, wh, "shardins").count() === 3)
    assert(graft.io.ManifestVersioned.manifestEntries(spark, wh, "shardins")
      .contains(graft.io.ManifestVersioned.keyOf(right)))
    graft.plans.GraftSqlTables.unregister(spark, "shardins")
    // a full rewrite that drops the key drops the declaration with it
    adapter.replace(spark, wh, "shardins",
      adapter.read(spark, wh, "shardins").drop("systemid"))
    assert(graft.io.ManifestVersioned.generatedColumns(spark, wh,
      "shardins").isEmpty)
    assert(adapter.read(spark, wh, "shardins").count() === 3)
  }

  test("MergeMode rejects substrates without the keyed-merge verb") {
    val e = intercept[IllegalArgumentException] {
      Pipeline.Config(
        sourceRoot = "/tmp/x", warehouseDir = "/tmp/y",
        statePath = "/tmp/z",
        adapter = graft.io.ParquetWarehouseAdapter,
        mode = Pipeline.MergeMode)
    }
    assert(e.getMessage.contains("merge-capable"))
  }
}
