package graft.core

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.io.ManifestVersioned

/** Pins the KEY-LOCATE index a partitioned merge keeps: the per-entry
  * key ranges in the table's manifest ([[ManifestVersioned.Entry]]
  * `stats`), which narrow the partitions the merge's key-locate join
  * scans. After a cross-partition key move both partitions' entries
  * describe their new content exactly, so a later change to the moved
  * key locates only its new partition; a no-op change-set leaves every
  * entry as it was.
  */
class MergeKeyIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def seed(wh: String): Unit = {
    val v1 = Seq(
      ("A", 1L, 10.0), ("A", 2L, 20.0),
      ("B", 3L, 30.0), ("B", 4L, 40.0),
      ("C", 5L, 50.0))
      .toDF("region", "id", "amount")
      .select($"id", $"amount", $"region")
    ManifestVersioned.writeFull(spark, wh, "sales", v1, "region")
  }

  private def mergeChange(wh: String, change: DataFrame) =
    ManifestVersioned.mergeVersioned(spark, wh, "sales", change,
      keyCol = "id", partitionCol = "region",
      order = Seq($"amount".desc_nulls_last),
      isTombstone = $"region" === "DELETED")

  private def entries(wh: String) =
    ManifestVersioned.manifestEntries(spark, wh, "sales")

  /** The recorded `id` range of a region's entry, as longs. */
  private def idRange(e: Map[String, ManifestVersioned.Entry],
      region: String): (Option[Long], Option[Long]) = {
    val r = e(ManifestVersioned.keyOf(region)).stats("id")
    (r.lo.map(_.toLong), r.hi.map(_.toLong))
  }

  test("cross-partition key move updates both partitions' index entries") {
    val wh = Files.createTempDirectory("graft-mki").toString
    seed(wh)
    val e1 = entries(wh)
    assert(idRange(e1, "A") === (Some(1L), Some(2L)))

    val (touched, _) =
      mergeChange(wh, Seq((1L, 11.0, "D")).toDF("id", "amount", "region"))
    assert(touched.toSet === Set("A", "D"))
    val e2 = entries(wh)
    // the source entry no longer covers id=1; the destination's does
    assert(idRange(e2, "A") === (Some(2L), Some(2L)))
    assert(idRange(e2, "D") === (Some(1L), Some(1L)))
    for (p <- Seq("B", "C"))
      assert(e2(ManifestVersioned.keyOf(p)) === e1(ManifestVersioned.keyOf(p)),
        s"region=$p's entry must not change")

    // no stale A-copy of id=1 is left to find: a follow-up change to
    // id=1 must locate ONLY region=D
    val (relocated, _) =
      mergeChange(wh, Seq((1L, 12.0, "D")).toDF("id", "amount", "region"))
    assert(relocated.toSet === Set("D"))
    assert(entries(wh)(ManifestVersioned.keyOf("A")) ===
      e2(ManifestVersioned.keyOf("A")))
  }

  test("no-op change-set touches neither table nor index") {
    val wh = Files.createTempDirectory("graft-mki").toString
    seed(wh)
    val before = entries(wh)
    val rowsBefore = ManifestVersioned.read(spark, wh, "sales")
      .select($"id", $"amount", $"region").as[(Long, Double, String)]
      .collect().toSet
    // tombstone for a key that never existed
    val change = Seq((42L, Option.empty[Double], "DELETED"))
      .toDF("id", "amount", "region")
    val (touched, v) = mergeChange(wh, change)
    assert(touched.isEmpty)
    assert(v === 1)
    assert(ManifestVersioned.listVersions(spark, wh, "sales") === Seq(1))
    assert(entries(wh) === before, "the manifest's entries must not move")
    assert(ManifestVersioned.read(spark, wh, "sales")
      .select($"id", $"amount", $"region").as[(Long, Double, String)]
      .collect().toSet === rowsBefore)
  }
}
