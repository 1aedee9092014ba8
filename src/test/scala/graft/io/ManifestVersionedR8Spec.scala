package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Round-8 manifest-table features: DELETE VECTORS (merge-on-read row
  * deletes with zero partition rewrites), ZONE MAPS (`readWhere`'s
  * manifest-level pruning on non-partition columns), MULTI-COLUMN
  * partitioning, CONCURRENT-MERGE conflict detection (two interleaved
  * same-partition merges both survive), and the row-level CHANGE FEED
  * (`readChanges`/`readChangesSince`).
  */
class ManifestVersionedR8Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fixture(triples: (Long, String, Long)*) =
    triples.toDF("k", "p", "v")

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
    df.select("k", "p", "v").as[(Long, String, Long)].collect().toSet

  /** All generation dirs on disk under `sub` ("parts" or "deletes"). */
  private def dirs(wh: String, table: String, sub: String): Set[String] = {
    val base = new java.io.File(s"$wh/$table.mv/$sub")
    if (!base.exists()) Set.empty
    else base.listFiles().flatMap(k =>
      k.listFiles().map(g => s"$sub/${k.getName}/${g.getName}")).toSet
  }

  // ── delete vectors ──────────────────────────────────────────────────

  test("deleteRows: a 1-row delete writes ZERO partition data bytes") {
    val wh = Files.createTempDirectory("graft-dv1").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L)), "p")
    val dataDirs = dirs(wh, "t", "parts")
    val (applied, v2) = ManifestVersioned.deleteRows(spark, wh, "t",
      Seq((2L, "a")).toDF("k", "p"), "k", Seq("p"))
    assert(applied === 1 && v2 === 2)
    // no new data generation, one tiny delete dir
    assert(dirs(wh, "t", "parts") === dataDirs,
      "a row delete must not rewrite any partition")
    assert(dirs(wh, "t", "deletes").size === 1)
    // merge-on-read: the key is gone from the head, alive in history
    assert(rows(ManifestVersioned.read(spark, wh, "t")) ===
      Set((1L, "a", 10L), (3L, "b", 30L)))
    assert(rows(ManifestVersioned.read(spark, wh, "t", Some(1))) ===
      Set((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L)))
  }

  test("deleteRows: vectors stack, fold on rewrite, and vacuum sweeps them") {
    val wh = Files.createTempDirectory("graft-dv2").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 30L), (4L, "b", 40L)),
      "p")
    ManifestVersioned.deleteRows(spark, wh, "t",
      Seq((1L, "a")).toDF("k", "p"), "k", Seq("p"))
    ManifestVersioned.deleteRows(spark, wh, "t",
      Seq((3L, "a")).toDF("k", "p"), "k", Seq("p"))
    // two stacked vectors on one generation
    val e = ManifestVersioned.manifestEntries(spark, wh, "t")(
      ManifestVersioned.keyOf("a"))
    assert(e.deletes.size === 2)
    assert(rows(ManifestVersioned.read(spark, wh, "t")) ===
      Set((2L, "a", 20L), (4L, "b", 40L)))
    // compaction folds the vectors into a clean generation …
    val v4 = ManifestVersioned.compactPartitions(spark, wh, "t", "p", Seq("a"))
    val folded = ManifestVersioned.manifestEntries(spark, wh, "t")(
      ManifestVersioned.keyOf("a"))
    assert(folded.deletes.isEmpty, "rewrite must fold delete vectors")
    assert(rows(ManifestVersioned.read(spark, wh, "t")) ===
      Set((2L, "a", 20L), (4L, "b", 40L)), "fold is content-neutral")
    // … and vacuum reclaims the now-unreferenced delete dirs
    ManifestVersioned.vacuum(spark, wh, "t", keepHistory = 0)
    assert(dirs(wh, "t", "deletes").isEmpty)
    assert(rows(ManifestVersioned.read(spark, wh, "t")) ===
      Set((2L, "a", 20L), (4L, "b", 40L)))
  }

  test("deleteRows: absent keys and dead partitions are inert; key column pinned") {
    val wh = Files.createTempDirectory("graft-dv3").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L, "a", 10L)), "p")
    val (applied, _) = ManifestVersioned.deleteRows(spark, wh, "t",
      Seq((99L, "a"), (1L, "zzz")).toDF("k", "p"), "k", Seq("p"))
    assert(applied === 1, "only the live partition gains a vector")
    assert(rows(ManifestVersioned.read(spark, wh, "t")) ===
      Set((1L, "a", 10L)), "an absent key deletes nothing")
    // the recorded dv key column is authoritative for later deletes
    val e = intercept[IllegalArgumentException] {
      ManifestVersioned.deleteRows(spark, wh, "t",
        Seq((10L, "a")).toDF("v", "p"), "v", Seq("p"))
    }
    assert(e.getMessage.contains("keyed on k"))
  }

  // ── zone maps / readWhere ───────────────────────────────────────────

  test("readWhere prunes partitions at the manifest level and stays exact") {
    val wh = Files.createTempDirectory("graft-zm1").toString
    // v ranges per partition: a:[10,20], b:[30,40], c:[50,60]
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L),
        (4L, "b", 40L), (5L, "c", 50L), (6L, "c", 60L)), "p")
    def scanned(preds: Seq[ZonePred]): Set[String] =
      ManifestVersioned.readWhereEntries(spark, wh, "t", preds)
        .map(p => ManifestVersioned.valueOf(p._1)).toSet
    // non-partition-column range predicate prunes to the right partitions
    assert(scanned(Seq(ZoneGt("v", 35L))) === Set("b", "c"))
    assert(scanned(Seq(ZoneEq("v", 50L))) === Set("c"))
    assert(scanned(Seq(ZoneLe("v", 10L))) === Set("a"))
    // conjunction intersects
    assert(scanned(Seq(ZoneGe("v", 30L), ZoneLt("v", 45L))) === Set("b"))
    // IN-list keeps exactly the partitions any member may live in
    assert(scanned(Seq(ZoneIn("v", Seq(15L, 55L)))) === Set("a", "c"))
    assert(rows(ManifestVersioned.readWhere(spark, wh, "t",
      Seq(ZoneIn("v", Seq(10L, 40L, 999L))))) ===
      Set((1L, "a", 10L), (4L, "b", 40L)))
    // partition-column predicate prunes through the same typed path
    assert(scanned(Seq(ZoneEq("p", "b"))) === Set("b"))
    // result equals the unpruned filter (the residual-filter guarantee)
    assert(rows(ManifestVersioned.readWhere(spark, wh, "t",
      Seq(ZoneGt("v", 35L)))) ===
      rows(ManifestVersioned.read(spark, wh, "t").filter(col("v") > 35)))
    // a predicate nothing satisfies: zero partitions, empty exact result
    assert(scanned(Seq(ZoneGt("v", 999L))) === Set.empty[String])
    assert(ManifestVersioned.readWhere(spark, wh, "t",
      Seq(ZoneGt("v", 999L))).count() === 0)
  }

  test("zone maps: all-null prunes, missing stats keep, strings/timestamps compare") {
    val wh = Files.createTempDirectory("graft-zm2").toString
    val df = Seq(
      (1L, "a", Some("apple"), "2024-01-05 10:00:00"),
      (2L, "a", Some("cherry"), "2024-01-06 10:00:00"),
      (3L, "b", None: Option[String], "2024-02-01 00:00:00"))
      .toDF("k", "p", "s", "tsRaw")
      .withColumn("ts", col("tsRaw").cast("timestamp")).drop("tsRaw")
    ManifestVersioned.writeFull(spark, wh, "t", df, "p")
    def scanned(preds: Seq[ZonePred]): Set[String] =
      ManifestVersioned.readWhereEntries(spark, wh, "t", preds)
        .map(p => ManifestVersioned.valueOf(p._1)).toSet
    // string range: only a's [apple, cherry] range may hold "banana"
    assert(scanned(Seq(ZoneEq("s", "banana"))) === Set("a"))
    // b's s column is ALL NULL -> prunable under any null-rejecting pred
    assert(scanned(Seq(ZoneGe("s", ""))) === Set("a"))
    // timestamp range predicate
    assert(scanned(Seq(ZoneGt("ts",
      java.sql.Timestamp.valueOf("2024-01-10 00:00:00")))) === Set("b"))
    // exactness under evolution: a widened column has NO stats in old
    // partitions -> they are conservatively kept
    ManifestVersioned.writeDelta(spark, wh, "t",
      Seq((9L, "c", "kiwi", java.sql.Timestamp.valueOf("2024-03-01 00:00:00"),
        7L)).toDF("k", "p", "s", "ts", "w"), "p")
    assert(scanned(Seq(ZoneGe("w", 100L))) === Set("a", "b"),
      "stat-less old partitions must be kept, stat-bearing c pruned")
    assert(ManifestVersioned.readWhere(spark, wh, "t",
      Seq(ZoneGe("w", 1L))).select("k").as[Long].collect().toSet === Set(9L))
  }

  test("readWhere sees through delete vectors (residual + MoR compose)") {
    val wh = Files.createTempDirectory("graft-zm3").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L)), "p")
    ManifestVersioned.deleteRows(spark, wh, "t",
      Seq((2L, "a")).toDF("k", "p"), "k", Seq("p"))
    assert(rows(ManifestVersioned.readWhere(spark, wh, "t",
      Seq(ZoneLe("v", 25L)))) === Set((1L, "a", 10L)))
  }

  // ── manifest-only row stats ─────────────────────────────────────────

  test("partitionRowStats / rowCount answer from the manifest alone") {
    val wh = Files.createTempDirectory("graft-rs1").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L)), "p")
    assert(ManifestVersioned.partitionRowStats(spark, wh, "t")
      .as[(String, Long, Boolean)].collect().toSet ===
      Set(("a", 2L, true), ("b", 1L, true)))
    assert(ManifestVersioned.rowCount(spark, wh, "t") === Some(3L))
    // a delete vector demotes the touched partition to an upper bound
    ManifestVersioned.deleteRows(spark, wh, "t",
      Seq((1L, "a")).toDF("k", "p"), "k", Seq("p"))
    assert(ManifestVersioned.partitionRowStats(spark, wh, "t")
      .as[(String, Long, Boolean)].collect().toSet ===
      Set(("a", 2L, false), ("b", 1L, true)))
    assert(ManifestVersioned.rowCount(spark, wh, "t") === None,
      "an upper bound must never masquerade as an exact count")
    // folding the vector restores exactness
    ManifestVersioned.compactPartitions(spark, wh, "t", "p", Seq("a"))
    assert(ManifestVersioned.rowCount(spark, wh, "t") === Some(2L))
  }

  // ── zone-map locate pruning in the merge ────────────────────────────

  test("mergeVersioned's key-locate scan prunes to key-range-intersecting partitions") {
    val wh = Files.createTempDirectory("graft-lp1").toString
    // keys CLUSTERED by partition: a=[1,10], b=[11,20], c=[21,30]
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture(Seq.tabulate(30)(i => ((i + 1).toLong,
        Seq("a", "b", "c")((i) / 10), 0L)): _*)
        .withColumn("del", lit(false)), "p")
    val entries = ManifestVersioned.manifestEntries(spark, wh, "t")
    val schema = ManifestVersioned.manifestSchema(spark, wh, "t")
    // a change batch touching keys 12..14 intersects ONLY b's range
    val pruned = ManifestVersioned.locatePrune(entries, "k", 12L, 14L, schema)
    assert(pruned.map(ManifestVersioned.valueOf).toSet === Set("b"))
    // stat-less entries are kept (conservatism)
    val statless = entries.map { case (k, e) => k -> e.copy(stats = Map.empty) }
    assert(ManifestVersioned.locatePrune(statless, "k", 12L, 14L, schema)
      .size === 3)
    // and the merge through the pruned locate is exactly right
    val change = Seq((13L, "b", 99L, false)).toDF("k", "p", "v", "del")
    val (touched, _) = ManifestVersioned.mergeVersioned(spark, wh, "t",
      change, "k", "p", Seq(col("v").desc), col("del"))
    assert(touched === Seq("b"))
    assert(ManifestVersioned.read(spark, wh, "t")
      .filter(col("k") === 13L).select("v").as[Long].head() === 99L)
  }

  // ── vacuum live-writer grace ────────────────────────────────────────

  test("vacuum's staging grace spares fresh orphans, sweeps aged ones") {
    val wh = Files.createTempDirectory("graft-vg1").toString
    ManifestVersioned.writeFull(spark, wh, "t", fixture((1L, "a", 1L)), "p")
    // plant a fresh "in-flight writer" orphan generation dir + staging
    val orphanGen = new java.io.File(s"$wh/t.mv/parts/${ManifestVersioned.keyOf("a")}/orphan1")
    assert(orphanGen.mkdirs())
    val orphanStage = new java.io.File(s"$wh/t.mv/._stage.live")
    assert(orphanStage.mkdirs())
    ManifestVersioned.vacuum(spark, wh, "t", keepHistory = 0,
      stagingGraceMs = 3600 * 1000L)
    assert(orphanGen.exists(), "a fresh orphan may be an in-flight writer")
    assert(orphanStage.exists())
    // the same orphans with an expired grace sweep
    ManifestVersioned.vacuum(spark, wh, "t", keepHistory = 0)
    assert(!orphanGen.exists())
    assert(!orphanStage.exists())
    // the referenced generation always survives
    assert(rows(ManifestVersioned.read(spark, wh, "t")).nonEmpty)
  }

  // ── multi-column partitioning ───────────────────────────────────────

  test("multi-column partitions: write, prune, merge, diff on (date, src)") {
    val wh = Files.createTempDirectory("graft-mc1").toString
    val df = Seq(
      (1L, "2024-01-01", "app", 10L, false), (2L, "2024-01-01", "web", 20L, false),
      (3L, "2024-01-02", "app", 30L, false), (4L, "2024-01-02", "web", 40L, false))
      .toDF("k", "d", "src", "v", "del")
    ManifestVersioned.writeFullMulti(spark, wh, "t", df, Seq("d", "src"))
    assert(ManifestVersioned.partitionColumns(spark, wh, "t") ===
      Some(Seq("d", "src")))
    // manifest-pruned multi-value read
    assert(ManifestVersioned.readPartitionsMulti(spark, wh, "t",
        Seq(Seq("2024-01-01", "web"))).select("k").as[Long].collect().toSet
      === Set(2L))
    // nightly merge touches exactly the (2024-01-02, app) cell
    val change = Seq((3L, "2024-01-02", "app", 99L, false))
      .toDF("k", "d", "src", "v", "del")
    val m1 = ManifestVersioned.manifestEntries(spark, wh, "t")
    val (touched, _) = ManifestVersioned.mergeVersionedMulti(spark, wh, "t",
      change, "k", Seq("d", "src"), Seq(col("v").desc), col("del"))
    assert(touched === Seq(Seq("2024-01-02", "app")))
    val m2 = ManifestVersioned.manifestEntries(spark, wh, "t")
    val hot = ManifestVersioned.keyOf(Seq("2024-01-02", "app"))
    assert(m2(hot) !== m1(hot))
    assert((m2 - hot) === (m1 - hot), "only the touched cell may move")
    assert(ManifestVersioned.read(spark, wh, "t")
      .filter(col("k") === 3L).select("v").as[Long].head() === 99L)
    // partition diff renders the multi-column value
    val d = ManifestVersioned.manifestDiff(spark, wh, "t", 1, 2)
      .as[(String, String)].collect().toSet
    assert(d === Set(("2024-01-02/app", "changed")))
    // a write under different partition columns rejects loudly
    val e = intercept[IllegalArgumentException] {
      ManifestVersioned.writeDeltaMulti(spark, wh, "t",
        df.withColumn("del", lit(false)), Seq("src"))
    }
    assert(e.getMessage.contains("partitioned by"))
  }

  test("multi-column keys round-trip exotic values") {
    assert(ManifestVersioned.partValuesOf(
      ManifestVersioned.keyOf(Seq("a.b c", null, "x/y"))) ===
      Seq("a.b c", null, "x/y"))
  }

  // ── concurrent-merge conflict detection ─────────────────────────────

  test("a merge pinned to a superseded base CONFLICTS instead of last-wins") {
    val wh = Files.createTempDirectory("graft-cf1").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L, "a", 10L), (2L, "a", 20L)).withColumn("del", lit(false)),
      "p")
    // writer A derives from v1 but does NOT commit yet; writer B merges
    // the same partition and commits v2
    val changeB = Seq((1L, "a", 111L, false)).toDF("k", "p", "v", "del")
    ManifestVersioned.mergeVersioned(spark, wh, "t", changeB, "k", "p",
      Seq(col("v").desc), col("del"))
    // A's attempt, still pinned to baseV=1, must abort — committing its
    // staged dirs would resurrect k=1's old row and drop B's update
    val changeA = Seq((2L, "a", 222L, false)).toDF("k", "p", "v", "del")
    intercept[ConcurrentWriteConflictException] {
      ManifestVersioned.mergeVersionedAt(spark, wh, "t", baseV = 1,
        changeA, "k", Seq("p"), Seq(col("v").desc), col("del"))
    }
    // the public retry path re-runs from the new head: BOTH survive
    ManifestVersioned.mergeVersioned(spark, wh, "t", changeA, "k", "p",
      Seq(col("v").desc), col("del"))
    assert(rows(ManifestVersioned.read(spark, wh, "t")) ===
      Set((1L, "a", 111L), (2L, "a", 222L)))
  }

  test("interleaved SAME-partition merges: both change batches survive") {
    val wh = Files.createTempDirectory("graft-cf2").toString
    // 8 keys, ONE partition — maximal overlap; every concurrent commit
    // pair is a true conflict
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L to 8L).map(k => (k, "hot", 0L)): _*)
        .withColumn("del", lit(false)), "p")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val Rounds = 3
    def writer(keys: Seq[Long], tag: Long): Future[Unit] = Future {
      (1 to Rounds).foreach { i =>
        val change = keys.map(k => (k, "hot", tag * 1000L + i, false))
          .toDF("k", "p", "v", "del")
        ManifestVersioned.mergeVersioned(spark, wh, "t", change, "k", "p",
          Seq(col("v").desc), col("del"))
      }
    }
    val (fa, fb) = (writer(Seq(1L, 2L, 3L, 4L), 1L),
      writer(Seq(5L, 6L, 7L, 8L), 2L))
    Await.result(fa, 300.seconds); Await.result(fb, 300.seconds)
    // r7 behavior: the loser of each race silently lost its batch —
    // some keys would still read tag*1000+(i-1) or 0. With conflict
    // detection + re-run, EVERY key holds its writer's final round.
    val got = ManifestVersioned.read(spark, wh, "t")
      .select("k", "v").as[(Long, Long)].collect().toMap
    assert(got === (1L to 4L).map(_ -> (1000L + Rounds)).toMap ++
      (5L to 8L).map(_ -> (2000L + Rounds)).toMap,
      s"a concurrent merge's committed rows were dropped: $got")
  }

  // ── row-level change feed ───────────────────────────────────────────

  test("readChanges: insert/update/delete per version pair, bootstrap as inserts") {
    val wh = Files.createTempDirectory("graft-cfeed1").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L, "a", 10L), (2L, "b", 20L)), "p")
    // v2: update k=1, insert k=3, delete-vector k=2
    ManifestVersioned.writeDelta(spark, wh, "t",
      fixture((1L, "a", 11L), (3L, "a", 30L)), "p")
    ManifestVersioned.deleteRows(spark, wh, "t",
      Seq((2L, "b")).toDF("k", "p"), "k", Seq("p"))
    def feed(v1: Int, v2: Int): Set[(Long, String)] =
      ManifestVersioned.readChanges(spark, wh, "t", v1, v2, "k")
        .select("k", "change_type").as[(Long, String)].collect().toSet
    assert(feed(0, 1) === Set(1L -> "insert", 2L -> "insert"))
    assert(feed(1, 2) === Set(1L -> "update", 3L -> "insert"))
    assert(feed(2, 3) === Set(2L -> "delete"),
      "a delete-vector commit must feed as a delete")
    // old/new values ride along
    val row = ManifestVersioned.readChanges(spark, wh, "t", 1, 2, "k")
      .filter(col("k") === 1L)
      .select("old_v", "new_v").as[(Long, Long)].head()
    assert(row === (10L, 11L))
    // subscription form: intermediate churn preserved, version-tagged
    val since = ManifestVersioned.readChangesSince(spark, wh, "t", 1, "k")
      .select("version", "k", "change_type")
      .as[(Int, Long, String)].collect().toSet
    assert(since === Set((2, 1L, "update"), (2, 3L, "insert"),
      (3, 2L, "delete")))
  }

  test("readChangesSince conforms pairs across additive evolution") {
    val wh = Files.createTempDirectory("graft-cfeed2").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L, "a", 10L)), "p")
    // widen: the delta carries partition a's FULL content (k=1 keeps its
    // row, now with w=null; k=2 arrives with w set)
    ManifestVersioned.writeDelta(spark, wh, "t",
      Seq((1L, "a", 10L, None: Option[String]),
        (2L, "a", 20L, Some("x"))).toDF("k", "p", "v", "w"), "p")
    val feed = ManifestVersioned.readChangesSince(spark, wh, "t", 0, "k")
    assert(feed.columns.count(_ == "old_w") === 1,
      "pre-widening pairs must carry the evolved column")
    val got = feed.select("version", "k", "change_type", "new_w")
      .as[(Int, Long, String, Option[String])].collect().toSet
    // v1 bootstrap inserts k=1 (w null then); v2 inserts k=2 with w and
    // UPDATES k=1 (its w column widened from absent to null — values
    // equal, so NOT an update; k=1 must not reappear)
    assert(got === Set((1, 1L, "insert", None), (2, 2L, "insert", Some("x"))))
  }

  test("a layout-preserving rewrite (compaction/restore) feeds ZERO rows") {
    val wh = Files.createTempDirectory("graft-cfeed5").toString
    val wide = spark.range(0, 50).repartition(8)
      .selectExpr("id AS k", "'a' AS p", "id AS v")
    ManifestVersioned.writeFull(spark, wh, "t", wide, "p")
    ManifestVersioned.compactPartitions(spark, wh, "t", "p", Seq("a"))
    assert(ManifestVersioned.readChanges(spark, wh, "t", 1, 2, "k")
      .count() === 0, "compaction is invisible to subscribers")
  }

  // ── maintenance planners ───────────────────────────────────────────

  test("suggestCompaction: sprawl, DVs and small files trigger; the fold clears all three") {
    val wh = Files.createTempDirectory("graft-sc1").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).repartition(1),
      "p")
    // healthy single-file partitions: nothing suggested at a tiny
    // byte floor
    assert(ManifestVersioned.suggestCompaction(spark, wh, "t",
      maxFiles = 8, minFileBytes = 1L).count() === 0)
    // sprawl partition a (many files), DV partition b, and use a huge
    // byte floor so c trips small-files (2 files)
    ManifestVersioned.writeDelta(spark, wh, "t",
      (0L until 64L).map(i => (100L + i, "a", i)).toDF("k", "p", "v")
        .repartition(16), "p")
    ManifestVersioned.deleteRows(spark, wh, "t",
      Seq((2L, "b")).toDF("k", "p"), "k", Seq("p"))
    ManifestVersioned.writeDelta(spark, wh, "t",
      (200L until 220L).map(i => (i, "c", i)).toDF("k", "p", "v")
        .repartition(2, col("k")), "p")
    val sug = ManifestVersioned.suggestCompaction(spark, wh, "t",
      maxFiles = 8, minFileBytes = 1L << 30)
      .select("part_value", "reason").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sug("a") === "file-sprawl")
    assert(sug("b") === "delete-vectors")
    assert(sug("c") === "small-files")
    val before = rows(ManifestVersioned.read(spark, wh, "t"))
    val picked = ManifestVersioned.compactSuggested(spark, wh, "t",
      maxFiles = 8, minFileBytes = 1L << 30)
    assert(picked.map(_.head).toSet === Set("a", "b", "c"))
    assert(rows(ManifestVersioned.read(spark, wh, "t")) === before,
      "compaction is content-neutral")
    // healthy now (single generous-floor-exempt single files)
    assert(ManifestVersioned.suggestCompaction(spark, wh, "t",
      maxFiles = 8, minFileBytes = 1L).count() === 0)
  }

  test("vacuumPlan is a faithful dry run: report == what vacuum then removes") {
    val wh = Files.createTempDirectory("graft-vp1").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L, "a", 10L), (2L, "b", 20L)), "p")
    ManifestVersioned.writeDelta(spark, wh, "t",
      fixture((1L, "a", 11L)), "p") // supersedes a's generation
    val plan = ManifestVersioned.vacuumPlan(spark, wh, "t", keepHistory = 0)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(plan.exists(_._1 == "manifest"))
    assert(plan.exists(_._1 == "parts"), "a's old generation is doomed")
    val doomed = plan.map(_._2)
    assert(doomed.forall(p => new java.io.File(
      new java.net.URI(p).getPath).exists() ||
      new java.io.File(p).exists()))
    ManifestVersioned.vacuum(spark, wh, "t", keepHistory = 0)
    doomed.foreach { p =>
      val f = new java.io.File(p.stripPrefix("file:"))
      assert(!f.exists(), s"planned target survived the vacuum: $p")
    }
    // everything still referenced survives; the table reads
    assert(rows(ManifestVersioned.read(spark, wh, "t")) ===
      Set((1L, "a", 11L), (2L, "b", 20L)))
    assert(ManifestVersioned.vacuumPlan(spark, wh, "t", keepHistory = 0)
      .count() === 0, "post-vacuum the plan is empty")
  }

  test("suggestClustering: scattered flags, clustered clears, doubt stays silent") {
    val wh = Files.createTempDirectory("graft-sg1").toString
    // interleaved keys across 4 files per partition: every file spans
    // the domain → overlap ≈ 1
    ManifestVersioned.writeFull(spark, wh, "t",
      (0L until 200L).map(k => (k, if (k % 2 == 0) "a" else "b", k))
        .toDF("k", "p", "v").repartition(8),
      "p")
    val flagged = ManifestVersioned.suggestClustering(spark, wh, "t", "k")
      .select("part_value", "overlap").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(flagged.keySet === Set("a", "b"))
    assert(flagged.values.forall(_ > 0.9), s"scattered ≈ full overlap: $flagged")
    // the advised rewrite clears the advice
    ManifestVersioned.optimizeClustered(spark, wh, "t", Seq("p"),
      Seq(Seq("a"), Seq("b")), Seq("k"), filesPerPartition = 4)
    assert(ManifestVersioned.suggestClustering(spark, wh, "t", "k")
      .count() === 0, "disjoint slices must not flag")
    // a column with no recorded stats is silent, never flagged
    assert(ManifestVersioned.suggestClustering(spark, wh, "t", "nope")
      .count() === 0)
  }

  test("retentionFor/vacuumOlderThan: time-based retention keeps every reachable as-of read") {
    val wh = Files.createTempDirectory("graft-vt1").toString
    ManifestVersioned.writeFull(spark, wh, "t", fixture((1L, "a", 10L)), "p")
    val t1 = ManifestVersioned.commitTimestamp(spark, wh, "t", Some(1)).get
    ManifestVersioned.writeDelta(spark, wh, "t", fixture((1L, "a", 11L)), "p")
    ManifestVersioned.writeDelta(spark, wh, "t", fixture((1L, "a", 12L)), "p")
    val t3 = ManifestVersioned.commitTimestamp(spark, wh, "t", Some(3)).get
    // an instant before v1: everything must survive
    assert(ManifestVersioned.retentionFor(spark, wh, "t", t1 - 1) === 2)
    // an instant at/after the head: only the head needs to survive
    assert(ManifestVersioned.retentionFor(spark, wh, "t", t3) === 0)
    // boundary between v1 and v3: v1 is the newest at-or-before any
    // instant in [t1, t2), so nothing may be swept for sinceMillis=t1
    assert(ManifestVersioned.retentionFor(spark, wh, "t", t1) === 2)
    ManifestVersioned.vacuumOlderThan(spark, wh, "t", t3)
    assert(ManifestVersioned.listVersions(spark, wh, "t") === Seq(3))
    assert(rows(ManifestVersioned.read(spark, wh, "t")) ===
      Set((1L, "a", 12L)))
  }

  test("optimizeSuggested: measure → rewrite flagged only → advice clears") {
    val wh = Files.createTempDirectory("graft-os1").toString
    // partition a scattered (flagged); partition b single-file (silent)
    ManifestVersioned.writeFull(spark, wh, "t",
      (0L until 100L).map(k => (k, "a", k)).toDF("k", "p", "v")
        .repartition(6)
        .unionAll(Seq((9999L, "b", 1L)).toDF("k", "p", "v").coalesce(1)),
      "p")
    val before = rows(ManifestVersioned.read(spark, wh, "t"))
    val picked = ManifestVersioned.optimizeSuggested(spark, wh, "t",
      Seq("k"), filesPerPartition = 4)
    assert(picked === Seq(Seq("a")), "only the scattered partition rewrites")
    assert(rows(ManifestVersioned.read(spark, wh, "t")) === before)
    assert(ManifestVersioned.optimizeSuggested(spark, wh, "t", Seq("k"))
      === Nil, "second pass is a no-op")
  }

  test("joinWithStats: zero-probe broadcast decision from manifest metadata") {
    val wh = Files.createTempDirectory("graft-js1").toString
    ManifestVersioned.writeFull(spark, wh, "dim",
      (0L until 50L).map(k => (k, "a", s"name$k")).toDF("k", "p", "nm"), "p")
    val fact = (0L until 500L).map(i => (i % 50, i)).toDF("k", "fv")
    val plain = fact.join(
      ManifestVersioned.read(spark, wh, "dim"), Seq("k"), "inner")
    // small dim under both gates → broadcast, plan says so even with
    // auto-broadcast off (the explicit hint decides)
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (joined, how) = ManifestVersioned.joinWithStats(spark, wh, "dim",
        fact, Seq("k"))
      assert(how === "broadcast")
      assert(joined.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      assert(joined.count() === plain.count())
    }
    // a right join cannot build the dim side: plain, honestly
    assert(ManifestVersioned.joinWithStats(spark, wh, "dim", fact,
      Seq("k"), "right")._2 === "plain")
    // a byte gate the dim fails: plain
    assert(ManifestVersioned.joinWithStats(spark, wh, "dim", fact,
      Seq("k"), broadcastBytes = 1L)._2 === "plain")
    // row gate via the recorded counts: plain
    assert(ManifestVersioned.joinWithStats(spark, wh, "dim", fact,
      Seq("k"), broadcastRows = 10L)._2 === "plain")
  }

  private def withSQLConf(kv: (String, String)*)(f: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("history: the DESCRIBE-HISTORY audit, newest first, zero data reads") {
    val wh = Files.createTempDirectory("graft-hi1").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L, "a", 10L), (2L, "b", 20L)), "p")
    ManifestVersioned.writeDelta(spark, wh, "t", fixture((3L, "a", 30L)),
      "p", note = "nightly")
    val h = ManifestVersioned.history(spark, wh, "t").collect()
    assert(h.map(_.getInt(0)).toSeq === Seq(2, 1), "newest first")
    assert(h.forall(!_.isNullAt(1)), "every r8 commit is stamped")
    assert(h.head.getString(2) === "nightly")
    assert(h.head.getLong(3) === 2L) // a (replaced) + b
    assert(h.head.getLong(4) === 2L) // 1-row a + 1-row b
    assert(h.last.getLong(4) === 2L)
    assert(h.forall(_.getString(5) === "p"))
  }

  test("compaction conflict detection: a stale fold aborts; the public path re-runs") {
    val wh = Files.createTempDirectory("graft-cc1").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L, "a", 10L), (2L, "b", 20L)), "p")
    // a concurrent merge commits v2 into partition a AFTER the
    // compaction pinned its base snapshot
    ManifestVersioned.writeDelta(spark, wh, "t",
      fixture((1L, "a", 11L), (3L, "a", 30L)), "p")
    intercept[ConcurrentWriteConflictException] {
      ManifestVersioned.compactPartitionsAt(spark, wh, "t", Seq("p"),
        Seq(Seq("a")), None, baseV = 1)
    }
    // the stale fold was refused: the merge's rows are intact, and the
    // public retry path compacts the NEW head content-neutrally
    ManifestVersioned.compactPartitions(spark, wh, "t", "p", Seq("a"))
    assert(rows(ManifestVersioned.read(spark, wh, "t")) ===
      Set((1L, "a", 11L), (3L, "a", 30L), (2L, "b", 20L)))
  }

  test("compaction conflict detection: a stale drop cannot delete a peer's new partition") {
    val wh = Files.createTempDirectory("graft-cc2").toString
    ManifestVersioned.writeFull(spark, wh, "t", fixture((1L, "a", 10L)), "p")
    // the compaction (pinned at v1) also names partition c, which does
    // not exist yet; a peer CREATES c at v2
    ManifestVersioned.writeDelta(spark, wh, "t", fixture((9L, "c", 90L)), "p")
    intercept[ConcurrentWriteConflictException] {
      ManifestVersioned.compactPartitionsAt(spark, wh, "t", Seq("p"),
        Seq(Seq("a"), Seq("c")), None, baseV = 1)
    }
    assert(rows(ManifestVersioned.read(spark, wh, "t")) ===
      Set((1L, "a", 10L), (9L, "c", 90L)), "the peer's partition survives")
  }

  test("recorded generation bytes: zero-listing byteSize, legacy manifests fall back") {
    val wh = Files.createTempDirectory("graft-by1").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L, "a", 10L), (2L, "b", 20L)), "p")
    val entries = ManifestVersioned.manifestEntries(spark, wh, "t")
    // recorded bytes == the on-disk data listing, per partition
    val base = new org.apache.hadoop.fs.Path(s"$wh/t.mv")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    entries.values.foreach { e =>
      val listed = fs.listStatus(new org.apache.hadoop.fs.Path(base, e.dir))
        .filter(!_.getPath.getName.startsWith("_")).map(_.getLen).sum
      assert(e.bytes === listed && e.bytes > 0)
    }
    assert(ManifestVersioned.byteSize(spark, wh, "t") ===
      Some(entries.values.map(_.bytes).sum))
    // a delta updates only its partition's record; history keeps its own
    ManifestVersioned.writeDelta(spark, wh, "t", fixture((1L, "a", 11L)), "p")
    assert(ManifestVersioned.byteSize(spark, wh, "t", Some(1)) ===
      Some(entries.values.map(_.bytes).sum))
    // legacy (pre-bytes) manifests read as unknown → None
    val legacy = ManifestVersioned.Entry("parts/x/y", Nil, Map.empty, 5L)
    assert(legacy.bytes === -1L)
  }

  // ── manifest-only column ranges ────────────────────────────────────

  test("columnRanges: zero-read min/max, DV-inexactness, non-covering NULLs") {
    val wh = Files.createTempDirectory("graft-cr1").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((5L, "a", 50L), (1L, "a", 10L), (9L, "b", 90L), (3L, "b", 7L)),
      "p")
    val r1 = ManifestVersioned.columnRanges(spark, wh, "t", Seq("k", "v"))
      .collect()(0)
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2), r1.getLong(3),
      r1.getBoolean(4)) === ((1L, 9L, 7L, 90L, true)))
    // a delete vector makes the range an OUTER bound, not exact
    ManifestVersioned.deleteRows(spark, wh, "t",
      Seq((9L, "b")).toDF("k", "p"), "k", Seq("p"))
    val r2 = ManifestVersioned.columnRanges(spark, wh, "t", Seq("k"))
      .collect()(0)
    assert((r2.getLong(0), r2.getLong(1), r2.getBoolean(2)) ===
      ((1L, 9L, false)), "bounds stay valid but inexact under DVs")
    // a column no entry records (not in the schema) reports NULL + inexact
    val r3 = ManifestVersioned.columnRanges(spark, wh, "t", Seq("nope"))
      .collect()(0)
    assert(r3.isNullAt(0) && r3.isNullAt(1) && !r3.getBoolean(2))
    // history folds exactly again (pre-DV version)
    val r4 = ManifestVersioned.columnRanges(spark, wh, "t", Seq("k"),
      asOf = Some(1)).collect()(0)
    assert((r4.getLong(0), r4.getLong(1), r4.getBoolean(2)) ===
      ((1L, 9L, true)))
  }

  test("columnRanges: a post-widening column reports NULL bounds (older partitions predate it)") {
    val wh = Files.createTempDirectory("graft-cr2").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L, "a", 10L)), "p")
    // widen with column w present only in the new partition
    ManifestVersioned.writeDelta(spark, wh, "t",
      Seq((2L, "b", 20L, 99L)).toDF("k", "p", "v", "w"), "p")
    val r = ManifestVersioned.columnRanges(spark, wh, "t", Seq("w", "k"))
      .collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1),
      "a fold over the recorded subset must not masquerade as a bound")
    assert((r.getLong(2), r.getLong(3)) === ((1L, 2L)))
    assert(!r.getBoolean(4))
  }

  // ── partition evolution ─────────────────────────────────────────────

  test("a full rewrite may change the partition layout; deltas must match the head") {
    val wh = Files.createTempDirectory("graft-pe1").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L, "a", 10L), (2L, "b", 20L)), "p")
    // v2: full rewrite re-partitioned by v — no downtime, no side table
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L, "a", 10L), (2L, "b", 20L)), "v")
    assert(ManifestVersioned.partitionColumns(spark, wh, "t") ===
      Some(Seq("v")))
    // the new layout prunes by v…
    assert(rows(ManifestVersioned.readPartitions(spark, wh, "t",
      Seq("20"))) === Set((2L, "b", 20L)))
    // …and the OLD version still reads and prunes under ITS layout
    assert(ManifestVersioned.partitionColumns(spark, wh, "t", Some(1)) ===
      Some(Seq("p")))
    assert(rows(ManifestVersioned.readPartitions(spark, wh, "t",
      Seq("a"), asOf = Some(1))) === Set((1L, "a", 10L)))
    // a delta under the superseded layout rejects loudly
    val e = intercept[IllegalArgumentException] {
      ManifestVersioned.writeDelta(spark, wh, "t", fixture((3L, "c", 30L)), "p")
    }
    assert(e.getMessage.contains("partitioned by"))
    // a delta under the live layout lands
    ManifestVersioned.writeDelta(spark, wh, "t",
      fixture((3L, "c", 30L)), "v")
    assert(rows(ManifestVersioned.read(spark, wh, "t")) ===
      Set((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
  }

  // ── randomized model replay across the whole r8 surface ────────────

  test("randomized delta/delete/merge/restore/compact sequences replay a model") {
    // seeded op sequences over a keyed table vs a trivial in-memory
    // model: after every committed version, read() must equal the
    // model's snapshot — and at the end, EVERY historical version must
    // still read as its point-in-time snapshot (delete vectors, folds,
    // merges and restores composing arbitrarily).
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(100 + seed)
      val wh = Files.createTempDirectory(s"graft-model$seed").toString
      val parts = Seq("a", "b", "c")
      def partOf(k: Long) = parts((k % 3).toInt)
      // model: key -> value (partition derived from key, latest-wins on
      // the explicit o column we bump per op)
      var model: Map[Long, Long] =
        (1L to 9L).map(k => k -> (k * 10)).toMap
      var op = 0L
      def df(m: Map[Long, Long]) =
        m.toSeq.map { case (k, v) => (k, partOf(k), v, op, false) }
          .toDF("k", "p", "v", "o", "del")
      // seed 3 runs the whole sequence under a BLOOM policy on the
      // merge key: every merge/delete/delta/restore/compact composes
      // through sidecar staging and bloom-pruned locates, and the
      // model equivalence below proves pruning never changes results
      ManifestVersioned.writeFull(spark, wh, "t", df(model), "p",
        bloomCols = if (seed == 3) Seq("k") else Nil)
      def snap(m: Map[Long, Long]): Set[(Long, String, Long)] =
        m.toSeq.map { case (k, v) => (k, partOf(k), v) }.toSet
      val history = scala.collection.mutable.ArrayBuffer(snap(model))
      for (_ <- 1 to 8) {
        op += 1
        rnd.nextInt(7) match {
          case 0 => // merge: update 1-3 keys, maybe tombstone one
            val ups = rnd.shuffle((1L to 12L).toList).take(1 + rnd.nextInt(3))
              .map(k => (k, partOf(k), rnd.nextLong().abs % 1000, op, false))
            val tomb =
              if (model.nonEmpty && rnd.nextBoolean()) {
                val k = model.keys.toSeq.sorted(Ordering[Long])(
                  rnd.nextInt(model.size))
                Seq((k, null.asInstanceOf[String], 0L, op, true))
              } else Nil
            val change = (ups ++ tomb).toDF("k", "p", "v", "o", "del")
            ManifestVersioned.mergeVersioned(spark, wh, "t", change, "k",
              "p", Seq(col("o").desc, col("v").desc), col("del"))
            model = (model -- tomb.map(_._1)) ++
              ups.filterNot(u => tomb.exists(_._1 == u._1))
                .map(u => u._1 -> u._3)
          case 1 => // delete vectors for 1-2 keys (maybe absent ones)
            val ks = rnd.shuffle((1L to 12L).toList).take(1 + rnd.nextInt(2))
            val dels = ks.map(k => (k, partOf(k))).toDF("k", "p")
            ManifestVersioned.deleteRows(spark, wh, "t", dels, "k", Seq("p"))
            model = model -- ks
          case 2 => // delta: replace one partition's full content (or
            // empty it via dropParts — writeDelta's two shapes)
            val p = parts(rnd.nextInt(parts.size))
            val idx = parts.indexOf(p).toLong
            val extra =
              if (rnd.nextBoolean())
                Map((12L + 3L * rnd.nextInt(3) + idx) -> 777L)
              else Map.empty[Long, Long]
            val content =
              model.filter { case (k, _) => partOf(k) == p } ++ extra
            val delta = content.toSeq
              .map { case (k, v) => (k, p, v, op, false) }
              .toDF("k", "p", "v", "o", "del")
            if (content.isEmpty)
              ManifestVersioned.writeDelta(spark, wh, "t", delta, "p",
                dropParts = Seq(p))
            else
              ManifestVersioned.writeDelta(spark, wh, "t", delta, "p")
            model = model.filterNot { case (k, _) => partOf(k) == p } ++
              content
          case 3 => // restore a random earlier version
            val to = 1 + rnd.nextInt(history.size)
            ManifestVersioned.restore(spark, wh, "t", to)
            model = history(to - 1).map { case (k, _, v) => k -> v }.toMap
          case 4 => // compact one live partition (content-neutral)
            val live = model.keys.map(partOf).toSeq.distinct.sorted
            if (live.nonEmpty)
              ManifestVersioned.compactPartitions(spark, wh, "t", "p",
                Seq(live(rnd.nextInt(live.size))))
            else ManifestVersioned.restore(spark, wh, "t", history.size)
          case 5 => // clustered OPTIMIZE (content-neutral layout fold)
            val live = model.keys.map(partOf).toSeq.distinct.sorted
            if (live.nonEmpty)
              ManifestVersioned.optimizeClustered(spark, wh, "t", Seq("p"),
                Seq(Seq(live(rnd.nextInt(live.size)))), Seq("k"),
                filesPerPartition = 1 + rnd.nextInt(3))
            else ManifestVersioned.restore(spark, wh, "t", history.size)
          case 6 => // Z-ordered OPTIMIZE over (k, v), same contract
            val live = model.keys.map(partOf).toSeq.distinct.sorted
            if (live.nonEmpty)
              ManifestVersioned.optimizeZOrderedMulti(spark, wh, "t",
                Seq("p"), Seq(Seq(live(rnd.nextInt(live.size)))),
                Seq("k", "v"), filesPerPartition = 1 + rnd.nextInt(3))
            else ManifestVersioned.restore(spark, wh, "t", history.size)
        }
        history += snap(model)
        assert(rows(ManifestVersioned.read(spark, wh, "t")) === snap(model),
          s"seed=$seed after op ${history.size - 1}")
        // pruned reads agree with the model through every layout state
        // (zone + file + bloom pruning under whatever generations the
        // op mix left behind)
        assert(rows(ManifestVersioned.readWhere(spark, wh, "t",
          Seq(ZoneGe("k", 5L)))) === snap(model).filter(_._1 >= 5L),
          s"seed=$seed pruned read after op ${history.size - 1}")
      }
      // every historical version is still its exact point-in-time state
      for ((want, i) <- history.zipWithIndex)
        assert(rows(ManifestVersioned.read(spark, wh, "t", Some(i + 1)))
          === want, s"seed=$seed version=${i + 1}")
    }
  }

  // ── streaming change-feed twin ──────────────────────────────────────

  test("changeFeedBatch mirrors readChangesSince and replays idempotently") {
    val wh = Files.createTempDirectory("graft-cfeed3").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L, "a", 10L), (2L, "b", 20L)), "p")
    ManifestVersioned.writeDelta(spark, wh, "t",
      fixture((1L, "a", 11L)), "p")
    val batch = Seq((s"$wh/t.mv/_manifest.v00001", 1),
      (s"$wh/t.mv/_manifest.v00002", 2)).toDF("manifest_path", "version")
    graft.streaming.StreamingIngest.changeFeedBatch(spark, batch, wh, "t",
      "k", "t_feed")
    def out(): Set[(Int, Long, String)] =
      spark.read.parquet(s"$wh/t_feed")
        .select("version", "k", "change_type")
        .as[(Int, Long, String)].collect().toSet
    val want = Set((1, 1L, "insert"), (1, 2L, "insert"), (2, 1L, "update"))
    assert(out() === want)
    // at-least-once replay of the same batch: identical, not doubled
    graft.streaming.StreamingIngest.changeFeedBatch(spark, batch, wh, "t",
      "k", "t_feed")
    assert(out() === want)
    // the next commit arrives as its own batch
    ManifestVersioned.deleteRows(spark, wh, "t",
      Seq((2L, "b")).toDF("k", "p"), "k", Seq("p"))
    graft.streaming.StreamingIngest.changeFeedBatch(spark,
      Seq((s"$wh/t.mv/_manifest.v00003", 3)).toDF("manifest_path", "version"),
      wh, "t", "k", "t_feed")
    assert(out() === want + ((3, 2L, "delete")))
  }

  test("changeFeedBatch heals a marker-less version from the applied high-water mark") {
    val wh = Files.createTempDirectory("graft-cfeed5").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L, "a", 10L)), "p")
    graft.streaming.StreamingIngest.changeFeedBatch(spark,
      Seq((s"$wh/t.mv/_manifest.v00001", 1)).toDF("manifest_path", "version"),
      wh, "t", "k", "t_feed")
    // v2 commits but its best-effort marker is LOST (crash between
    // manifest publish and marker publish); v3 commits normally. The
    // discovery batch therefore carries ONLY version 3 — the pre-r9
    // sinceV = chunk.head - 1 skipped v2's changes forever.
    ManifestVersioned.writeDelta(spark, wh, "t", fixture((2L, "b", 20L)), "p")
    val marker = new org.apache.hadoop.fs.Path(s"$wh/t.mv/commits/manifest.v00002")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(marker, false)
    ManifestVersioned.writeDelta(spark, wh, "t", fixture((1L, "a", 11L)), "p")
    graft.streaming.StreamingIngest.changeFeedBatch(spark,
      Seq((s"$wh/t.mv/_manifest.v00003", 3)).toDF("manifest_path", "version"),
      wh, "t", "k", "t_feed")
    assert(spark.read.parquet(s"$wh/t_feed")
      .select("version", "k", "change_type")
      .as[(Int, Long, String)].collect().toSet ===
      Set((1, 1L, "insert"), (2, 2L, "insert"), (3, 1L, "update")),
      "the marker-less v2 must feed — coverage is contiguous from the applied HWM")
  }

  test("a note containing a line break is rejected before staging, not committed") {
    val wh = Files.createTempDirectory("graft-noteck").toString
    ManifestVersioned.writeFull(spark, wh, "t", fixture((1L, "a", 10L)), "p")
    val e = intercept[IllegalArgumentException] {
      ManifestVersioned.writeDelta(spark, wh, "t", fixture((2L, "b", 20L)),
        "p", note = "first line\nsecond line")
    }
    assert(e.getMessage.contains("line break"))
    // the table head is intact and readable (the pre-r9 behavior wrote
    // the note verbatim and bricked every subsequent read)
    assert(ManifestVersioned.currentVersion(spark, wh, "t") === Some(1))
    assert(rows(ManifestVersioned.read(spark, wh, "t")) ===
      Set((1L, "a", 10L)))
    intercept[IllegalArgumentException] {
      ManifestVersioned.deleteRows(spark, wh, "t",
        Seq((1L, "a")).toDF("k", "p"), "k", Seq("p"), note = "bad\rnote")
    }
    assert(ManifestVersioned.currentVersion(spark, wh, "t") === Some(1))
  }

  test("manifestCommitStream discovers commits through the real file source") {
    val wh = Files.createTempDirectory("graft-cfeed4").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L, "a", 10L)), "p")
    // v2 adds a NEW partition (a is untouched — its entry is identical,
    // so the feed must not re-emit k=1)
    ManifestVersioned.writeDelta(spark, wh, "t", fixture((2L, "b", 20L)), "p")
    val ckpt = Files.createTempDirectory("graft-cfeed4-ckpt").toString
    val q = graft.streaming.StreamingIngest.sinkInto(
        graft.streaming.StreamingIngest.manifestCommitStream(spark, wh, "t"),
        "graft-changefeed-t", ckpt) { (b, _) =>
      graft.streaming.StreamingIngest.changeFeedBatch(spark, b, wh, "t", "k",
        "t_feed")
    }
    q.awaitTermination(120000)
    val got = spark.read.parquet(s"$wh/t_feed")
      .select("version", "k", "change_type")
      .as[(Int, Long, String)].collect().toSet
    assert(got === Set((1, 1L, "insert"), (2, 2L, "insert")))
    // a later commit is picked up by the NEXT AvailableNow run from the
    // same checkpoint (exactly-once across restarts)
    ManifestVersioned.writeDelta(spark, wh, "t", fixture((1L, "a", 99L)), "p")
    val q2 = graft.streaming.StreamingIngest.sinkInto(
        graft.streaming.StreamingIngest.manifestCommitStream(spark, wh, "t"),
        "graft-changefeed-t", ckpt) { (b, _) =>
      graft.streaming.StreamingIngest.changeFeedBatch(spark, b, wh, "t", "k",
        "t_feed")
    }
    q2.awaitTermination(120000)
    assert(spark.read.parquet(s"$wh/t_feed")
      .select("version", "k", "change_type")
      .as[(Int, Long, String)].collect().toSet ===
      Set((1, 1L, "insert"), (2, 2L, "insert"), (3, 1L, "update")))
  }

  test("viewInto: the materialized view follows commits with no poller") {
    val wh = Files.createTempDirectory("graft-vinto").toString
    def expect(): Map[String, (Long, Long)] =
      ManifestVersioned.read(spark, wh, "t")
        .groupBy("p").agg(count(lit(1)).as("cnt"), sum("v").as("s"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
    def view(): Map[String, (Long, Long)] =
      graft.ext.IncrementalAgg.readRetractable(spark, wh, "t_agg", Seq("p"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture((1L, "a", 10L), (2L, "b", 20L)), "p")
    val ckpt = Files.createTempDirectory("graft-vinto-ckpt").toString
    def run(): Unit = {
      val q = graft.streaming.StreamingIngest.sinkInto(
          graft.streaming.StreamingIngest.manifestCommitStream(spark, wh, "t"),
          "graft-view-t", ckpt) { (b, _) =>
        graft.streaming.StreamingIngest.viewBatch(spark, b, wh, "t", "t_agg",
          "k", Seq("p"), Seq("v"), col("v"))
      }
      q.awaitTermination(120000)
    }
    run() // discovers v1 → seeds the view
    assert(view() === expect())
    // two commits between runs: coalesced discovery, one sync
    ManifestVersioned.writeDelta(spark, wh, "t",
      fixture((3L, "c", 30L)), "p")
    ManifestVersioned.deleteRows(spark, wh, "t",
      Seq((2L, "b")).toDF("k", "p"), "k", Seq("p"))
    run()
    assert(view() === expect())
    assert(view().keySet === Set("a", "c"))
    // an idle run (no new commits) leaves the state untouched
    run()
    assert(view() === expect())
  }
}
