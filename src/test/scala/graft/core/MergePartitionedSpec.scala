package graft.core

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.io.ManifestVersioned

/** Pins the WRITE-AMPLIFICATION contract of a partitioned merge
  * ([[ManifestVersioned.mergeVersioned]]) on the two cases a plain
  * in-place update cannot show: a key MOVING between partitions rewrites
  * exactly its source and its destination (no stale copy survives in
  * the source), and a change-set that changes nothing writes nothing.
  */
class MergePartitionedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** (relative path, length, modtime) for every data file of the table. */
  private def fileState(wh: String): Map[String, (Long, Long)] = {
    val base = new Path(s"$wh/sales.mv")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(base, true)
    val out = scala.collection.mutable.Map[String, (Long, Long)]()
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet"))
        out(f.getPath.toString.stripPrefix(base.toString)) =
          (f.getLen, f.getModificationTime)
    }
    out.toMap
  }

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

  private def dirOf(m: Map[String, String], region: String) =
    m(ManifestVersioned.keyOf(region))

  test("key moving between partitions rewrites source and destination only") {
    val wh = Files.createTempDirectory("graft-mp").toString
    seed(wh)
    val m1 = ManifestVersioned.manifest(spark, wh, "sales")
    val before = fileState(wh)

    // id=1 moves A -> D (new partition); B and C untouched
    val (touched, v2) =
      mergeChange(wh, Seq((1L, 11.0, "D")).toDF("id", "amount", "region"))
    assert(v2 === 2)
    assert(touched.toSet === Set("A", "D"))

    val m2 = ManifestVersioned.manifest(spark, wh, "sales")
    assert(m2.keySet === (m1.keySet + ManifestVersioned.keyOf("D")))
    assert(dirOf(m2, "A") !== dirOf(m1, "A"), "region=A must be rewritten")
    for (p <- Seq("B", "C")) {
      assert(dirOf(m2, p) === dirOf(m1, p), s"region=$p must not be rewritten")
      val dir = dirOf(m1, p)
      assert(fileState(wh).filter(_._1.contains(dir)) ===
        before.filter(_._1.contains(dir)),
        s"region=$p files must be bit-identical (same path/len/modtime)")
    }
    val rows = ManifestVersioned.read(spark, wh, "sales")
      .select($"region", $"id", $"amount").as[(String, Long, Double)]
      .collect().toSet
    assert(rows === Set(
      ("A", 2L, 20.0), ("B", 3L, 30.0), ("B", 4L, 40.0),
      ("C", 5L, 50.0), ("D", 1L, 11.0)),
      "the old copy of id=1 must not survive in region=A")
  }

  test("no-op change-set touches nothing") {
    val wh = Files.createTempDirectory("graft-mp").toString
    seed(wh)
    val m1 = ManifestVersioned.manifest(spark, wh, "sales")
    val before = fileState(wh)
    // an empty change-set, and a tombstone for a key that never existed
    val noOps = Seq(
      Seq((1L, 11.0, "A")).toDF("id", "amount", "region").limit(0),
      Seq((42L, Option.empty[Double], "DELETED"))
        .toDF("id", "amount", "region"))
    for (noOp <- noOps) {
      val (touched, v) = mergeChange(wh, noOp)
      assert(touched.isEmpty)
      assert(v === 1, "a no-op merge must commit no version")
      assert(ManifestVersioned.listVersions(spark, wh, "sales") === Seq(1))
      assert(ManifestVersioned.manifest(spark, wh, "sales") === m1)
      assert(fileState(wh) === before)
    }
  }
}
