package graft.core

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class MergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def versions = Seq(
    // (systemid, modifiedat, createdby, payload)
    ("A", "2024-01-01", "u1", 1),
    ("A", "2024-01-05", "u1", 2), // latest A
    ("B", "2024-01-02", "u1", 3),
    ("C", "2024-01-03", "u1", 4)
  ).toDF("systemid", "systemmodifiedat", "systemcreatedby", "payload")

  test("tombstoneFilter kills ALL versions of a tombstoned key") {
    val tomb = Seq(("A", null.asInstanceOf[String], "{0}", 0))
      .toDF("systemid", "systemmodifiedat", "systemcreatedby", "payload")
    val df = versions.unionAll(tomb)
    val out = Merge.tombstoneFilter(
      df, "systemid", col("systemmodifiedat").isNull && col("systemcreatedby") === "{0}")
    assert(out.select("systemid").distinct().as[String].collect().sorted === Array("B", "C"))
  }

  test("tombstoneFilter is null-SAFE: a NULL tombstone key only kills NULL-keyed rows") {
    val df = Seq(
      (Option("A"), "live", 1),
      (Option.empty[String], "live", 2),
      (Option.empty[String], "dead", 3)
    ).toDF("k", "status", "v")
    val out = Merge.tombstoneFilter(df, "k", col("status") === "dead")
    assert(out.select("v").as[Int].collect().sorted === Array(1))
  }

  test("notInFilter reproduces SQL NOT IN three-valued logic") {
    // any NULL tombstone key -> empty result
    val df1 = Seq(
      (Option("A"), "live", 1),
      (Option.empty[String], "dead", 2)
    ).toDF("k", "status", "v")
    assert(Merge.notInFilter(df1, "k", col("status") === "dead").count() === 0)

    // NULL-keyed live rows are never emitted when tombstones exist
    val df2 = Seq(
      (Option("A"), "live", 1),
      (Option.empty[String], "live", 2),
      (Option("B"), "dead", 3)
    ).toDF("k", "status", "v")
    assert(Merge.notInFilter(df2, "k", col("status") === "dead")
      .select("v").as[Int].collect().sorted === Array(1))

    // empty tombstone set -> everything passes, even NULL keys
    val df3 = Seq(
      (Option("A"), "live", 1),
      (Option.empty[String], "live", 2)
    ).toDF("k", "status", "v")
    assert(Merge.notInFilter(df3, "k", col("status") === "dead").count() === 2)
  }

  test("latestWins keeps exactly the max-version row per key") {
    val out = Merge.latestWins(
      versions, Seq("systemid"),
      Seq(col("systemmodifiedat").desc_nulls_last, col("payload").desc))
    val got = out.select("systemid", "payload").as[(String, Int)].collect().toMap
    assert(got === Map("A" -> 2, "B" -> 3, "C" -> 4))
  }

  test("latestWins emits exactly one survivor under ties") {
    val ties = Seq(
      ("A", "2024-01-01", 1),
      ("A", "2024-01-01", 2)
    ).toDF("systemid", "systemmodifiedat", "payload")
    val out = Merge.latestWins(
      ties, Seq("systemid"),
      Seq(col("systemmodifiedat").desc_nulls_last, col("payload").desc))
    val rows = out.collect()
    assert(rows.length === 1)
    assert(rows.head.getInt(2) === 2) // deterministic tiebreaker
  }

  test("alignedUnion: column set, order, null-fill, and target-type casts") {
    val target = Seq((1L, 10.5, "keepme")).toDF("id", "amount", "old_col")
    val change = Seq(("2", "20.25", "new")).toDF("id", "amount", "new_col")
    val out = Merge.alignedUnion(target, change)
    // change order first, then target-only extras
    assert(out.columns.toSeq === Seq("id", "amount", "new_col", "old_col"))
    // target types are authoritative for common columns
    val sch = out.schema.map(f => f.name -> f.dataType).toMap
    assert(sch("id") === LongType)
    assert(sch("amount") === DoubleType)
    assert(sch("new_col") === StringType)
    val rows = out.orderBy("id").collect()
    assert(rows.length === 2)
    assert(rows(0).getLong(0) === 1L && rows(0).isNullAt(2) && rows(0).getString(3) === "keepme")
    assert(rows(1).getLong(0) === 2L && rows(1).getDouble(1) === 20.25 && rows(1).isNullAt(3))
  }

  test("merge is idempotent: re-applying the same change-set is a no-op") {
    val target = versions
    val change = Seq(("B", "2024-02-01", "u2", 30))
      .toDF("systemid", "systemmodifiedat", "systemcreatedby", "payload")
    def once(t: org.apache.spark.sql.DataFrame) = Merge.merge(
      t, change, "systemid",
      Seq(col("systemmodifiedat").desc_nulls_last, col("payload").desc),
      col("systemcreatedby") === "tomb")
    val first = once(target).cache()
    val second = once(first)
    assert(first.exceptAll(second).count() === 0)
    assert(second.exceptAll(first).count() === 0)
    assert(first.filter(col("systemid") === "B").select("payload").as[Int].head() === 30)
  }

  test("mergeClustered equals merge and mergeSourceWins on a layout " +
      "derived from the key — NULL keys, tombstones, ties, an older " +
      "change row — in one shuffle") {
    val bucket = pmod(xxhash64(col("k")), lit(3L))
    val target = Seq[(String, String, String, Int)](
      ("A", "2024-01-01", "live", 1), ("B", "2024-01-01", "live", 2),
      ("C", "2024-01-03", "live", 3), (null, "2024-01-01", "live", 4),
      ("D", "2024-01-01", "live", 5))
      .toDF("k", "m", "status", "payload").withColumn("b", bucket)
    val change = Seq[(String, String, String, Int)](
      ("A", "2024-02-01", "live", 10), ("B", null, "dead", 0),
      ("E", "2024-02-01", "live", 11), (null, "2024-02-01", "live", 12),
      ("D", "2024-02-01", "live", 13), ("D", "2024-02-01", "live", 14),
      ("C", "2023-12-01", "live", 15))
      .toDF("k", "m", "status", "payload").withColumn("b", bucket)
    val order = Seq(col("m").desc_nulls_last, col("payload").desc)
    val tomb = col("status") === "dead"
    def same(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.columns.toSeq === b.columns.toSeq)
      assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
    }
    for (sourceWins <- Seq(false, true)) {
      val out = Merge.mergeClustered(target, change, "k", Seq("b"), order,
        tomb, sourceWins)
      val shuffles = out.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(shuffles === 1, s"sourceWins=$sourceWins: $shuffles shuffles")
      same(out,
        if (sourceWins) Merge.mergeSourceWins(target, change, "k", order, tomb)
        else Merge.merge(target, change, "k", order, tomb))
    }
    // version order keeps the newer target C; source-wins takes the change
    val payloadOfC = (sw: Boolean) => Merge.mergeClustered(target, change,
      "k", Seq("b"), order, tomb, sw).filter(col("k") === "C")
      .select("payload").as[Int].collect().toSeq
    assert(payloadOfC(false) === Seq(3) && payloadOfC(true) === Seq(15))
  }

  test("scdHistory stamps contiguous validity ranges with one open current version") {
    val df = Seq(
      ("A", 1L, 10), ("A", 3L, 11), ("A", 3L, 12), ("A", 7L, 13), // tie at 3
      ("B", 5L, 20))
      .toDF("systemid", "modified", "version_id")
    val hist = Merge.scdHistory(df, Seq("systemid"), "modified", col("version_id"))
      .select("systemid", "version_id", "valid_from", "valid_to", "is_current")
      .collect()
      .map(r => r.getInt(1) ->
        ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4))))
      .toMap
    assert(hist(10) === ((1L, Some(3L), false)))
    assert(hist(11) === ((3L, Some(3L), false))) // tie: zero-width, closed by its twin
    assert(hist(12) === ((3L, Some(7L), false)))
    assert(hist(13) === ((7L, None, true)))
    assert(hist(20) === ((5L, None, true)))
    // exactly one current version per key; ranges chain without gaps
    assert(hist.values.count(_._3) === 2)
  }

  test("changeFeed classifies insert/update/delete and drops unchanged keys") {
    val before = Seq(
      ("A", Option("x"), Option(1)),
      ("B", Option("y"), Option(2)),
      ("C", Option("z"), Option(3)),
      ("D", Option.empty[String], Option.empty[Int])) // all-NULL values, still present
      .toDF("k", "s", "v")
    val after = Seq(
      ("A", Option("x"), Option(1)),      // unchanged
      ("B", Option("y2"), Option(2)),     // update (s differs)
      ("D", Option.empty[String], Option.empty[Int]), // unchanged despite NULLs
      ("E", Option("new"), Option(5)))    // insert
      .toDF("k", "s", "v")                // C deleted
    val feed = Merge.changeFeed(before, after, "k", Seq("s", "v"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(feed === Map("B" -> "update", "C" -> "delete", "E" -> "insert"))
  }

  test("changeFeed presence is marker-based: NULL-valued rows are not inserts/deletes") {
    val before = Seq(("D", Option.empty[Int])).toDF("k", "v")
    val after = Seq(("D", Option(7))).toDF("k", "v")
    val rows = Merge.changeFeed(before, after, "k", Seq("v"),
      includeUnchanged = true).collect()
    assert(rows.length === 1)
    assert(rows.head.getString(1) === "update")
    assert(rows.head.isNullAt(2) && rows.head.getInt(3) === 7)
  }
}
