package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Manifest-versioned tables: file-REUSE incremental snapshots (a
  * 1-partition delta writes exactly 1 partition of new bytes), time
  * travel, restore without data movement, partition-level diff, vacuum
  * that respects cross-version sharing, and optimistic concurrency
  * (interleaved committers serialize; no torn version).
  */
class ManifestVersionedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
    df.select("p", "v").as[(String, Long)].collect().toSet

  private def fixture(pairs: (String, Long)*) = pairs.toDF("p", "v")

  /** All generation dirs currently on disk, as manifest-relative paths. */
  private def genDirs(wh: String, table: String): Set[String] = {
    val base = new java.io.File(s"$wh/$table.mv/parts")
    if (!base.exists()) Set.empty
    else base.listFiles().flatMap(k =>
      k.listFiles().map(g => s"parts/${k.getName}/${g.getName}")).toSet
  }

  test("1-partition delta: new version writes exactly 1 partition of new bytes") {
    val wh = Files.createTempDirectory("graft-mv").toString
    val v1 = ManifestVersioned.writeFull(spark, wh, "t",
      fixture("a" -> 1L, "a" -> 2L, "b" -> 10L, "c" -> 20L), "p")
    assert(v1 === 1)
    val dirsAfterFull = genDirs(wh, "t")
    assert(dirsAfterFull.size === 3)
    val m1 = ManifestVersioned.manifest(spark, wh, "t", Some(1))

    // replace ONLY partition b
    val v2 = ManifestVersioned.writeDelta(spark, wh, "t",
      fixture("b" -> 99L), "p")
    assert(v2 === 2)
    val m2 = ManifestVersioned.manifest(spark, wh, "t", Some(2))
    // exactly one new generation dir on disk …
    assert((genDirs(wh, "t") -- dirsAfterFull).size === 1)
    // … the unchanged partitions REUSE version 1's dirs verbatim …
    for (k <- Seq("a", "c").map(ManifestVersioned.keyOf))
      assert(m2(k) === m1(k), s"unchanged partition $k must share files")
    // … and only b's mapping moved
    assert(m2(ManifestVersioned.keyOf("b")) !== m1(ManifestVersioned.keyOf("b")))

    assert(rows(ManifestVersioned.read(spark, wh, "t")) ===
      Set("a" -> 1L, "a" -> 2L, "b" -> 99L, "c" -> 20L))
    // time travel to the pre-delta snapshot
    assert(rows(ManifestVersioned.read(spark, wh, "t", Some(1))) ===
      Set("a" -> 1L, "a" -> 2L, "b" -> 10L, "c" -> 20L))
  }

  test("restore re-points at old content with zero new data bytes") {
    val wh = Files.createTempDirectory("graft-mv2").toString
    ManifestVersioned.writeFull(spark, wh, "t", fixture("a" -> 1L, "b" -> 2L), "p")
    ManifestVersioned.writeDelta(spark, wh, "t", fixture("a" -> 7L), "p")
    val before = genDirs(wh, "t")
    val v3 = ManifestVersioned.restore(spark, wh, "t", to = 1)
    assert(v3 === 3)
    assert(genDirs(wh, "t") === before, "restore must not write data")
    assert(rows(ManifestVersioned.read(spark, wh, "t")) ===
      Set("a" -> 1L, "b" -> 2L))
    // the rolled-past version stays addressable (forward-only history)
    assert(rows(ManifestVersioned.read(spark, wh, "t", Some(2))) ===
      Set("a" -> 7L, "b" -> 2L))
  }

  test("manifestDiff labels added / removed / changed partitions; drops drop") {
    val wh = Files.createTempDirectory("graft-mv3").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture("a" -> 1L, "b" -> 2L, "c" -> 3L), "p")
    ManifestVersioned.writeDelta(spark, wh, "t",
      fixture("b" -> 20L, "d" -> 40L), "p", dropParts = Seq("c"))
    val d = ManifestVersioned.manifestDiff(spark, wh, "t", 1, 2)
      .as[(String, String)].collect().toSet
    assert(d === Set(("b", "changed"), ("c", "removed"), ("d", "added")))
    assert(rows(ManifestVersioned.read(spark, wh, "t")) ===
      Set("a" -> 1L, "b" -> 20L, "d" -> 40L))
  }

  test("readPartitions serves only the named partitions from the manifest") {
    val wh = Files.createTempDirectory("graft-mv4").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture("a" -> 1L, "b" -> 2L, "c" -> 3L), "p")
    assert(rows(ManifestVersioned.readPartitions(spark, wh, "t", Seq("a", "c")))
      === Set("a" -> 1L, "c" -> 3L))
  }

  test("vacuum keeps shared dirs alive and sweeps unreferenced history") {
    val wh = Files.createTempDirectory("graft-mv5").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture("a" -> 1L, "b" -> 2L), "p")
    ManifestVersioned.writeDelta(spark, wh, "t", fixture("b" -> 20L), "p")
    ManifestVersioned.writeDelta(spark, wh, "t", fixture("b" -> 30L), "p")
    // keep current + 1: version 1's b-dir becomes unreferenced; a's dir
    // is still SHARED by versions 2 and 3 and must survive
    ManifestVersioned.vacuum(spark, wh, "t", keepHistory = 1)
    assert(ManifestVersioned.listVersions(spark, wh, "t") === Seq(2, 3))
    assert(genDirs(wh, "t").size === 3) // a(shared), b@v2, b@v3
    assert(rows(ManifestVersioned.read(spark, wh, "t")) ===
      Set("a" -> 1L, "b" -> 30L))
    assert(rows(ManifestVersioned.read(spark, wh, "t", Some(2))) ===
      Set("a" -> 1L, "b" -> 20L))
  }

  test("unicode / spaced / null partition values round-trip") {
    val wh = Files.createTempDirectory("graft-mv6").toString
    val df = Seq(("søndag østre", 1L), ("a b:c%d", 2L), (null: String, 3L))
      .toDF("p", "v")
    ManifestVersioned.writeFull(spark, wh, "t", df, "p")
    assert(rows(ManifestVersioned.read(spark, wh, "t")) ===
      Set(("søndag østre", 1L), ("a b:c%d", 2L), (null, 3L)))
    assert(rows(ManifestVersioned.readPartitions(spark, wh, "t",
      Seq("a b:c%d"))) === Set(("a b:c%d", 2L)))
  }

  test("mergeVersioned: touched partitions rewrite, untouched share, emptied drop") {
    val wh = Files.createTempDirectory("graft-mv8").toString
    // key k, partition p, payload v, version column o (latest-wins), del
    val base = Seq(
      (1L, "p1", 10L, 1L), (2L, "p1", 20L, 1L),
      (3L, "p2", 30L, 1L),
      (4L, "p3", 40L, 1L),
      (5L, "p0", 50L, 1L))
      .toDF("k", "p", "v", "o")
    ManifestVersioned.writeFull(spark, wh, "t",
      base.withColumn("del", lit(false)), "p")
    val m1 = ManifestVersioned.manifest(spark, wh, "t", Some(1))
    // change: update key 3 (touches p2), tombstone key 4 (empties p3);
    // p0 and p1 untouched
    val change = Seq(
      (3L, "p2", 99L, 2L, false),
      (4L, null.asInstanceOf[String], 0L, 2L, true))
      .toDF("k", "p", "v", "o", "del")
    val (touched, v2) = ManifestVersioned.mergeVersioned(spark, wh, "t",
      change, "k", "p", Seq(col("o").desc), col("del"))
    assert(v2 === 2)
    assert(touched.toSet === Set("p2", "p3"))
    val m2 = ManifestVersioned.manifest(spark, wh, "t", Some(2))
    // untouched p0/p1 share version 1's files; p2 moved; p3 gone
    assert(m2(ManifestVersioned.keyOf("p0")) === m1(ManifestVersioned.keyOf("p0")))
    assert(m2(ManifestVersioned.keyOf("p1")) === m1(ManifestVersioned.keyOf("p1")))
    assert(m2(ManifestVersioned.keyOf("p2")) !== m1(ManifestVersioned.keyOf("p2")))
    assert(!m2.contains(ManifestVersioned.keyOf("p3")))
    // content equals the from-scratch merge, and history is intact
    val got = ManifestVersioned.read(spark, wh, "t")
      .select("k", "p", "v").as[(Long, String, Long)].collect().toSet
    assert(got === Set((1L, "p1", 10L), (2L, "p1", 20L), (3L, "p2", 99L),
      (5L, "p0", 50L)))
    assert(ManifestVersioned.read(spark, wh, "t", Some(1))
      .select("k").as[Long].collect().toSet === Set(1L, 2L, 3L, 4L, 5L))
  }

  test("compactPartitions folds file sprawl bit-identically as a new version") {
    val wh = Files.createTempDirectory("graft-mv9").toString
    // spread partition a's delta over many tasks → many small files
    val wide = spark.range(0, 200).repartition(16)
      .selectExpr("'a' AS p", "id AS v")
    ManifestVersioned.writeFull(spark, wh, "t", wide, "p")
    val sprawl = ManifestVersioned.partitionFileStats(spark, wh, "t")
      .filter(col("part_value") === "a").select("n_files").as[Long].head()
    assert(sprawl > 4, s"fixture must sprawl, got $sprawl files")
    val before = rows(ManifestVersioned.read(spark, wh, "t"))
    val v2 = ManifestVersioned.compactPartitions(spark, wh, "t", "p", Seq("a"))
    assert(v2 === 2)
    val after = ManifestVersioned.partitionFileStats(spark, wh, "t")
      .filter(col("part_value") === "a").select("n_files").as[Long].head()
    assert(after <= 2, s"compaction must fold files, got $after")
    assert(rows(ManifestVersioned.read(spark, wh, "t")) === before,
      "compaction is a pure layout change")
  }

  test("additive schema evolution: widened delta reads whole, retype rejects") {
    val wh = Files.createTempDirectory("graft-mv10").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture("a" -> 1L, "b" -> 2L), "p")
    // widened delta: partition b gains column w; a's old files lack it
    val wide = Seq(("b", 20L, "hello")).toDF("p", "v", "w")
    ManifestVersioned.writeDelta(spark, wh, "t", wide, "p")
    val got = ManifestVersioned.read(spark, wh, "t")
      .select("p", "v", "w")
      .as[(String, Long, Option[String])].collect().toSet
    assert(got === Set(("a", 1L, None), ("b", 20L, Some("hello"))),
      "old partitions must surface the new column as NULL")
    // the recorded schema is authoritative for every later read
    assert(ManifestVersioned.manifestSchema(spark, wh, "t").get
      .fieldNames.toSet === Set("p", "v", "w"))
    // pre-widening versions read under THEIR schema (no w)
    assert(!ManifestVersioned.read(spark, wh, "t", Some(1))
      .columns.contains("w"))
    // a retyped column rejects loudly before anything commits
    val vBefore = ManifestVersioned.currentVersion(spark, wh, "t")
    val e = intercept[IllegalArgumentException] {
      ManifestVersioned.writeDelta(spark, wh, "t",
        Seq(("a", "not-a-long")).toDF("p", "v"), "p")
    }
    assert(e.getMessage.contains("retyped"))
    assert(ManifestVersioned.currentVersion(spark, wh, "t") === vBefore)
  }

  test("diffVersions equals the full-scan diff and aligns evolved schemas") {
    val wh = Files.createTempDirectory("graft-mv12").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture("a" -> 1L, "b" -> 2L, "c" -> 3L), "p")
    // widen + change b, drop c, add d; a untouched (pruned from the diff)
    ManifestVersioned.writeDelta(spark, wh, "t",
      Seq(("b", 20L, "w1"), ("d", 40L, "w2")).toDF("p", "v", "w"), "p",
      dropParts = Seq("c"))
    val pruned = graft.ext.Diff.diffVersions(spark, wh, "t", 1, 2, Seq("p"))
      .select(col("p"), col("status"), concat_ws(",", col("changed_cols")))
      .as[(String, String, String)].collect().toSet
    // the unpruned reference: align v1 up to v2's schema, full diff
    val full = graft.ext.Diff.diff(
        graft.core.SchemaGuard.conform(
          ManifestVersioned.read(spark, wh, "t", Some(2)).schema,
          ManifestVersioned.read(spark, wh, "t", Some(1)),
          align = true, "t@v1"),
        ManifestVersioned.read(spark, wh, "t", Some(2)), Seq("p"))
      .select(col("p"), col("status"), concat_ws(",", col("changed_cols")))
      .as[(String, String, String)].collect().toSet
    assert(pruned === full)
    assert(pruned === Set(
      ("b", "changed", "v,w"), // value moved AND widened column gained one
      ("c", "removed", ""),
      ("d", "added", "")))
  }

  test("a later narrow delta keeps the widened schema (no schema lost-update)") {
    val wh = Files.createTempDirectory("graft-mv11").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture("a" -> 1L, "b" -> 2L), "p")
    ManifestVersioned.writeDelta(spark, wh, "t",
      Seq(("b", 20L, "x")).toDF("p", "v", "w"), "p") // widen
    // a delta from a writer UNAWARE of w must not narrow the record
    ManifestVersioned.writeDelta(spark, wh, "t", fixture("a" -> 10L), "p")
    assert(ManifestVersioned.manifestSchema(spark, wh, "t").get
      .fieldNames.contains("w"), "widening must survive later narrow deltas")
    assert(ManifestVersioned.read(spark, wh, "t")
      .select("p", "v", "w").as[(String, Long, Option[String])]
      .collect().toSet === Set(("a", 10L, None), ("b", 20L, Some("x"))))
  }

  test("randomized delta/drop/restore sequences replay an in-memory model") {
    // seeded random op sequences vs a trivial model: every committed
    // version's read must equal the model's snapshot at that point —
    // including versions created by restore (whose content is an older
    // snapshot under a NEW number). Deterministic seeds.
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val wh = Files.createTempDirectory(s"graft-mvr$seed").toString
      val parts = Seq("a", "b", "c", "d")
      def snap(m: Map[String, Long]): Set[(String, Long)] = m.toSet
      var model = parts.take(2 + rnd.nextInt(3)).map(p => p -> rnd.nextLong()).toMap
      ManifestVersioned.writeFull(spark, wh, "t", fixture(model.toSeq: _*), "p")
      val history = scala.collection.mutable.ArrayBuffer(snap(model))
      for (_ <- 1 to 5) {
        rnd.nextInt(3) match {
          case 0 | 1 => // delta: replace 1-2 partitions, maybe drop one
            val touch = rnd.shuffle(parts).take(1 + rnd.nextInt(2))
              .map(p => p -> rnd.nextLong()).toMap
            val droppable = (model.keySet -- touch.keySet).toSeq.sorted
            val drops =
              if (droppable.nonEmpty && rnd.nextBoolean())
                Seq(droppable(rnd.nextInt(droppable.size)))
              else Nil
            ManifestVersioned.writeDelta(spark, wh, "t",
              fixture(touch.toSeq: _*), "p", dropParts = drops)
            model = (model -- drops) ++ touch
          case 2 => // restore a random earlier version
            val to = 1 + rnd.nextInt(history.size)
            ManifestVersioned.restore(spark, wh, "t", to)
            model = history(to - 1).toMap
        }
        history += snap(model)
      }
      for ((want, i) <- history.zipWithIndex)
        assert(rows(ManifestVersioned.read(spark, wh, "t", Some(i + 1))) === want,
          s"seed=$seed version=${i + 1}")
    }
  }

  test("interleaved committers serialize: both deltas land, no torn version") {
    val wh = Files.createTempDirectory("graft-mv7").toString
    ManifestVersioned.writeFull(spark, wh, "t",
      fixture("a" -> 0L, "b" -> 0L), "p")
    val Rounds = 3
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def writer(part: String): Future[Seq[Int]] = Future {
      (1 to Rounds).map { i =>
        ManifestVersioned.writeDelta(spark, wh, "t",
          fixture(part -> i.toLong), "p")
      }
    }
    val (va, vb) = (writer("a"), writer("b"))
    val committed = Await.result(va, 120.seconds) ++ Await.result(vb, 120.seconds)
    // every commit got a DISTINCT version number (nobody overwrote anybody)
    assert(committed.distinct.size === committed.size)
    assert(ManifestVersioned.listVersions(spark, wh, "t").toSet ===
      (1 to 2 * Rounds + 1).toSet)
    // final state: BOTH writers' last deltas survive (a peer's commit is
    // re-merged, never clobbered)
    assert(rows(ManifestVersioned.read(spark, wh, "t")) ===
      Set("a" -> Rounds.toLong, "b" -> Rounds.toLong))
    // every intermediate version reads back whole — no torn snapshots
    for (v <- ManifestVersioned.listVersions(spark, wh, "t")) {
      val r = rows(ManifestVersioned.read(spark, wh, "t", Some(v)))
      assert(r.map(_._1) === Set("a", "b"), s"version $v torn: $r")
    }
  }
}
