package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Generated partition columns ([[GenCols]]) — hidden partitioning:
  * declaration validation, write-side derivation on EVERY write path,
  * the implicit transform check on provided values, driver/row twin
  * agreement for every transform, and the read-side derived pruning
  * that turns a raw-source predicate into partition/file pruning.
  */
class GeneratedColsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private var n = 0
  private def wh(): String = {
    n += 1
    Files.createTempDirectory(s"graft-gen$n").toString
  }

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s)

  test("declaration validates: unknown fn, missing cols, type " +
      "mismatch, chains, self-reference all reject") {
    val w = wh()
    ManifestVersioned.writeFull(spark, w, "t",
      Seq((1L, ts("2026-03-01 10:00:00"), java.sql.Date.valueOf("2026-03-01")))
        .toDF("k", "ev", "p_day"), "p_day")
    def set(k: String, v: String) =
      ManifestVersioned.setTableProperties(spark, w, "t", Map(k -> v))
    assert(intercept[IllegalArgumentException] {
      set("graft.generated.p_day", "frobnicate(ev)")
    }.getMessage.contains("unparseable"))
    assert(intercept[IllegalArgumentException] {
      set("graft.generated.p_day", "days(ghost)")
    }.getMessage.contains("not in the schema"))
    assert(intercept[IllegalArgumentException] {
      set("graft.generated.p_day", "years(ev)") // date vs int
    }.getMessage.contains("produces"))
    assert(intercept[IllegalArgumentException] {
      set("graft.generated.p_day", "days(p_day)")
    }.getMessage.contains("derive from itself"))
    assert(intercept[IllegalArgumentException] {
      set("graft.generated.k", "bucket(0, k)")
    }.getMessage.contains("positive"))
    // the valid declaration adopts
    set("graft.generated.p_day", "days(ev)")
    assert(ManifestVersioned.generatedColumns(spark, w, "t")
      .map(s => (s.genCol, s.fn, s.src)) === Seq(("p_day", "days", "ev")))
  }

  test("every write path derives an omitted generated column: " +
      "writeDelta, merge, appendRows, writeFull") {
    val w = wh()
    ManifestVersioned.writeFullMulti(spark, w, "t",
      Seq((1L, ts("2026-03-01 10:00:00"))).toDF("k", "ev")
        .withColumn("p_day", to_date(col("ev"))),
      Seq("p_day"),
      properties = Map("graft.generated.p_day" -> "days(ev)"))
    // writeDelta: batch carries NO p_day at all
    ManifestVersioned.writeDelta(spark, w, "t",
      Seq((2L, ts("2026-03-02 08:30:00"))).toDF("k", "ev"), "p_day")
    // merge: CDC batch carries NO p_day
    ManifestVersioned.mergeVersionedMulti(spark, w, "t",
      Seq((3L, ts("2026-03-03 23:59:59"), false))
        .toDF("k", "ev", "dead"),
      "k", Seq("p_day"), order = Nil, isTombstone = col("dead"),
      sourceWins = true, helperCols = Seq("dead"))
    // appendRows (the SQL INSERT path)
    ManifestVersioned.appendRows(spark, w, "t",
      Seq((4L, ts("2026-03-02 11:00:00"))).toDF("k", "ev"))
    val got = ManifestVersioned.read(spark, w, "t")
      .select(col("k"), col("p_day").cast("string"))
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "2026-03-01", 2L -> "2026-03-02",
      3L -> "2026-03-03", 4L -> "2026-03-02"))
    // writeFull derives too (rewrite without the column)
    ManifestVersioned.writeFullMulti(spark, w, "t",
      Seq((9L, ts("2026-04-01 00:00:00"))).toDF("k", "ev"), Seq("p_day"))
    assert(ManifestVersioned.read(spark, w, "t")
      .select(col("p_day").cast("string")).as[String].head() ===
      "2026-04-01")
  }

  test("a provided generated value that disagrees with the transform " +
      "rejects loudly; an agreeing one passes; NULL source passes") {
    val w = wh()
    ManifestVersioned.writeFullMulti(spark, w, "t",
      Seq((1L, ts("2026-03-01 10:00:00"))).toDF("k", "ev")
        .withColumn("p_day", to_date(col("ev"))),
      Seq("p_day"),
      properties = Map("graft.generated.p_day" -> "days(ev)"))
    val e = intercept[IllegalArgumentException] {
      ManifestVersioned.writeDelta(spark, w, "t",
        Seq((2L, ts("2026-03-02 08:00:00"), "2026-12-25"))
          .toDF("k", "ev", "d")
          .select(col("k"), col("ev"), col("d").cast("date").as("p_day")),
        "p_day")
    }
    assert(e.getMessage.contains("generated:p_day"))
    // agreeing values and a NULL source both pass (null-in-null-out)
    ManifestVersioned.writeDelta(spark, w, "t",
      Seq((2L, Some(ts("2026-03-02 08:00:00")), Some("2026-03-02")),
        (3L, None, None))
        .toDF("k", "ev", "d")
        .select(col("k"), col("ev"), col("d").cast("date").as("p_day")),
      "p_day")
    assert(ManifestVersioned.read(spark, w, "t").count() === 3)
    // the wrong full rewrite rejects too
    assert(intercept[IllegalArgumentException] {
      ManifestVersioned.writeFullMulti(spark, w, "t",
        Seq((9L, ts("2026-04-01 00:00:00")))
          .toDF("k", "ev")
          .withColumn("p_day", lit("1999-01-01").cast("date")),
        Seq("p_day"))
    }.getMessage.contains("disagrees"))
  }

  test("a delta carrying the generated column while OMITTING its source " +
      "still gates: non-null value rejects (null-in-null-out), NULL passes") {
    val w = wh()
    ManifestVersioned.writeFullMulti(spark, w, "t",
      Seq((1L, ts("2026-03-01 10:00:00"))).toDF("k", "ev")
        .withColumn("p_day", to_date(col("ev"))),
      Seq("p_day"),
      properties = Map("graft.generated.p_day" -> "days(ev)"))
    // the source column omitted entirely (allowed — omitted columns
    // conform to NULL), but a NON-NULL provided p_day has no source to
    // derive it: committing it would break the null-in-null-out
    // invariant derived pruning relies on (`WHERE ev IS NULL` implies
    // ZoneIsNull(p_day)) — must reject, not silently commit
    val e = intercept[IllegalArgumentException] {
      ManifestVersioned.writeDelta(spark, w, "t",
        Seq((2L, "2026-03-02")).toDF("k", "d")
          .select(col("k"), col("d").cast("date").as("p_day")),
        "p_day")
    }
    assert(e.getMessage.contains("generated:p_day"))
    assert(ManifestVersioned.read(spark, w, "t").count() === 1,
      "nothing staged or committed")
    // a NULL p_day with the source omitted agrees with days(NULL) — passes
    ManifestVersioned.writeDelta(spark, w, "t",
      Seq(3L).toDF("k").withColumn("p_day", lit(null).cast("date")),
      "p_day")
    val got = ManifestVersioned.read(spark, w, "t")
      .select(col("k"), col("ev"), col("p_day")).collect()
      .map(r => (r.getLong(0), r.isNullAt(1), r.isNullAt(2))).toSet
    assert(got === Set((1L, false, false), (3L, true, true)))
  }

  test("driver literal derivation is the exact twin of the row-level " +
      "transform, for every transform and boundary values") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // integral transforms: random longs through bucket/trunc
    val specB = GenCols.GenSpec("g", "bucket", Some(7L), "x")
    val specT = GenCols.GenSpec("g", "trunc", Some(1000L), "x")
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(2000),
      Prop.forAll(Gen.chooseNum(Long.MinValue + 1000,
          Long.MaxValue - 1000)) { x =>
        val df = Seq(x).toDF("x")
        val rowB = df.select(GenCols.mkColumn(specB, LongType)).head().getInt(0)
        val rowT = df.select(GenCols.mkColumn(specT, LongType)).head().getLong(0)
        GenCols.deriveLit(specB, Long.box(x)).contains(Int.box(rowB)) &&
          GenCols.deriveLit(specT, Long.box(x)).contains(Long.box(rowT))
      })
    assert(res.passed, res.status.toString)
    // temporal transforms: boundary instants incl. pre-1970 (floor vs
    // truncate shows up exactly there)
    // the 9999-12-31 sentinel dates pin hours() to integer arithmetic:
    // epoch micros > 2^53 there, where a double division rounds and the
    // row/driver twins would diverge by one epoch hour. (Pre-Gregorian
    // instants are out of contract: java.sql.Timestamp's hybrid
    // calendar and Spark's proleptic one disagree on the wall clock
    // itself, a fixture artifact unrelated to the transforms.)
    val instants = Seq(
      "1969-12-31 23:59:59", "1970-01-01 00:00:00", "1970-01-01 00:59:59",
      "2026-03-01 00:00:00", "2026-12-31 23:59:59", "1900-06-15 12:00:00",
      "9999-12-31 23:59:59", "9999-12-31 00:00:01")
    for (sfn <- Seq("days", "months", "years", "hours"); sI <- instants) {
      val spec = GenCols.GenSpec("g", sfn, None, "x")
      val v = ts(sI)
      val df = Seq(v).toDF("x")
      val row = df.select(GenCols.mkColumn(spec, TimestampType)
        .as("g")).head().get(0)
      assert(GenCols.deriveLit(spec, v).contains(row),
        s"$sfn($sI): row=$row lit=${GenCols.deriveLit(spec, v)}")
    }
  }

  test("read-side derived pruning: a raw-timestamp predicate prunes " +
      "partitions and a bucket-eq predicate prunes through pmod") {
    val w = wh()
    // 6 days × 100 rows, partitioned by the GENERATED day — the
    // caller never computes p_day anywhere below
    val rows = (0 until 600).map { i =>
      (i.toLong, ts(f"2026-03-${1 + i % 6}%02d 10:00:00"))
    }
    ManifestVersioned.writeFullMulti(spark, w, "t",
      applySeq(rows).toDF("k", "ev"), Seq("p_day"),
      properties = Map("graft.generated.p_day" -> "days(ev)"))
    assert(ManifestVersioned.manifestEntries(spark, w, "t").size === 6)
    // the predicate speaks RAW ev only; the derived p_day pred prunes
    val kept = ManifestVersioned.readWhereFiles(spark, w, "t",
      Seq(ZoneGe("ev", ts("2026-03-05 00:00:00"))))
    assert(kept.size === 2, s"days 05+06 survive, got ${kept.size}")
    val got = ManifestVersioned.readFiltered(spark, w, "t",
      col("ev") >= lit(ts("2026-03-05 00:00:00")))
    assert(got.count() === 200)
    // bucket: equality on the raw key derives the bucket partition
    val w2 = wh()
    ManifestVersioned.writeFullMulti(spark, w2, "t",
      (0L until 400L).toDF("k").withColumn("v", col("k") * 2),
      Seq("p_b"),
      properties = Map("graft.generated.p_b" -> "bucket(8, k)"))
    val kept2 = ManifestVersioned.readWhereFiles(spark, w2, "t",
      Seq(ZoneEq("k", Long.box(13L))))
    assert(kept2.size === 1, s"bucket 13 pmod 8 = 5 only, got ${kept2.size}")
    assert(ManifestVersioned.readFiltered(spark, w2, "t",
      col("k") === 13L).count() === 1)
    // IN derives through the transform as well
    val kept3 = ManifestVersioned.readWhereFiles(spark, w2, "t",
      Seq(ZoneIn("k", Seq(Long.box(13L), Long.box(21L)))))
    assert(kept3.size === 1, "13 and 21 share bucket 5")
  }

  test("keybucket: the driver twin matches the row-level hash shard, " +
      "string-key equality prunes to one bucket, IS NULL derives nothing") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val spec = GenCols.GenSpec("g", "keybucket", Some(8L), "x")
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300),
      Prop.forAll(Gen.oneOf(Gen.alphaNumStr, Gen.asciiStr,
          Gen.const(""), Gen.const("{0f3c-\u00e9\u4e2d}"))) { x =>
        val row = Seq(x).toDF("x")
          .select(GenCols.mkColumn(spec, StringType)).head().getString(0)
        GenCols.deriveLit(spec, x).contains(row)
      })
    assert(res.passed, res.status.toString)
    // the value is the manifest adapter's historical key stamp, byte
    // for byte, NULL keys included (xxhash64 skips NULL: the seed's bucket)
    val keys = Seq("A", "B", null, "{00000000-0000-0000-0000-000000000000}")
    val df = keys.toDF("x")
    assert(df.select(GenCols.mkColumn(spec, StringType)).as[String]
      .collect().toSeq === df.select(concat(lit("k"),
        pmod(xxhash64(col("x")), lit(8L)).cast("string"))).as[String]
      .collect().toSeq)
    val w = wh()
    ManifestVersioned.writeFullMulti(spark, w, "t",
      (0 until 200).map(i => (s"id$i", i.toLong)).toDF("id", "v"),
      Seq("p_k"),
      properties = Map("graft.generated.p_k" -> "keybucket(8, id)"))
    assert(ManifestVersioned.manifestEntries(spark, w, "t").size === 8)
    assert(ManifestVersioned.readWhereFiles(spark, w, "t",
      Seq(ZoneEq("id", "id13"))).size === 1)
    assert(ManifestVersioned.readFiltered(spark, w, "t",
      col("id") === "id13").count() === 1)
    assert(GenCols.derivedPreds(Seq(spec.copy(genCol = "p_k", src = "id")),
      Some(StructType(Seq(StructField("id", StringType)))),
      Seq(ZoneIsNull("id"), ZoneNotNull("id")), deriveTz = true).isEmpty)
    // a non-string key hashes by its type: no literal derivation
    assert(GenCols.derivedPreds(Seq(spec.copy(genCol = "p_k", src = "id")),
      Some(StructType(Seq(StructField("id", LongType)))),
      Seq(ZoneEq("id", Long.box(3L))), deriveTz = true).isEmpty)
  }

  test("keybucket is type-stable: integral keys hash as long, a batch " +
      "derives it at the recorded type, and a hash-moving widening of " +
      "its source rejects") {
    val spec = GenCols.GenSpec("g", "keybucket", Some(8L), "x")
    val ids = (-40 until 40).map(_ * 1000003)
    def shards(df: org.apache.spark.sql.DataFrame) =
      df.select(GenCols.mkColumn(spec, df.schema("x").dataType)).as[String]
        .collect().toSeq
    val asLong = shards(ids.map(_.toLong).toDF("x"))
    assert(shards(ids.toDF("x")) === asLong)
    assert(shards(ids.map(_.toShort).toDF("x")) ===
      shards(ids.map(_.toShort.toLong).toDF("x")))
    assert(asLong.distinct.size === 8)
    def bucketsOf(w: String) = ManifestVersioned.read(spark, w, "t")
      .select(col("id").cast("string"), col("p_k")).as[(String, String)]
      .collect().toSet
    // an int batch into a long key column lands in the long key's bucket
    val wl = wh()
    ManifestVersioned.writeFullMulti(spark, wl, "t",
      (0 until 64).map(i => (i.toLong, "a")).toDF("id", "v"), Seq("p_k"),
      properties = Map("graft.generated.p_k" -> "keybucket(8, id)"))
    ManifestVersioned.appendRows(spark, wl, "t",
      (64 until 96).map(i => (i, "b")).toDF("id", "v"))
    assert(bucketsOf(wl) === (0 until 96).map(_.toLong).toDF("x")
      .select(col("x").cast("string"), GenCols.mkColumn(spec, LongType))
      .as[(String, String)].collect().toSet)
    // an int batch into a double key column derives over the stored
    // double (5.0 hashes unlike 5), and the verification gate agrees
    val wd = wh()
    ManifestVersioned.writeFullMulti(spark, wd, "t",
      (0 until 32).map(i => (i.toDouble, "a")).toDF("id", "v"), Seq("p_k"),
      properties = Map("graft.generated.p_k" -> "keybucket(8, id)"))
    ManifestVersioned.writeDeltaMulti(spark, wd, "t",
      (32 until 48).map(i => (i, "b")).toDF("id", "v"), Seq("p_k"))
    assert(ManifestVersioned.read(spark, wd, "t").schema("id").dataType ===
      DoubleType)
    // (a delta replaces the partitions it stages: only its rows remain
    // in them, so compare those)
    assert(bucketsOf(wd).filter(_._1.toDouble >= 32) ===
      (32 until 48).map(_.toDouble).toDF("x")
      .select(col("x").cast("string"), GenCols.mkColumn(spec, DoubleType))
      .as[(String, String)].collect().toSet)
    // int -> long keeps every bucket; int -> double would move them
    val wi = wh()
    ManifestVersioned.writeFullMulti(spark, wi, "t",
      (0 until 16).map(i => (i, "a")).toDF("id", "v"), Seq("p_k"),
      properties = Map("graft.generated.p_k" -> "keybucket(8, id)"))
    val v0 = ManifestVersioned.currentVersion(spark, wi, "t")
    val e = intercept[IllegalArgumentException] {
      ManifestVersioned.appendRows(spark, wi, "t",
        Seq((16.0, "b")).toDF("id", "v"))
    }
    assert(e.getMessage.contains("cannot widen id"), e.getMessage)
    assert(ManifestVersioned.currentVersion(spark, wi, "t") === v0)
    ManifestVersioned.appendRows(spark, wi, "t",
      Seq((3L, "b"), (5000000000L, "c")).toDF("id", "v"))
    val widened = bucketsOf(wi)
    assert(ManifestVersioned.read(spark, wi, "t").schema("id").dataType ===
      LongType)
    assert(widened === (0 until 16).map(_.toLong).:+(5000000000L).toDF("x")
      .select(col("x").cast("string"), GenCols.mkColumn(spec, LongType))
      .as[(String, String)].collect().toSet)
  }

  test("months and trunc transforms derive range pruning; Gt/Lt " +
      "collapse to the inclusive generated bound") {
    val w = wh()
    // 6 months of data, partitioned by the generated month ordinal
    val rows = (0 until 600).map { i =>
      (i.toLong, ts(f"2026-${1 + i % 6}%02d-15 10:00:00"))
    }
    ManifestVersioned.writeFullMulti(spark, w, "t",
      rows.toDF("k", "ev"), Seq("p_mon"),
      properties = Map("graft.generated.p_mon" -> "months(ev)"))
    assert(ManifestVersioned.manifestEntries(spark, w, "t").size === 6)
    // strict > on the source collapses to >= on the generated month:
    // ev > Feb 10 keeps Feb (its 15th rows match) and everything after
    val kept = ManifestVersioned.readWhereFiles(spark, w, "t",
      Seq(ZoneGt("ev", ts("2026-02-10 00:00:00"))))
    assert(kept.size === 5, s"Feb..Jun survive, got ${kept.size}")
    assert(ManifestVersioned.readFiltered(spark, w, "t",
      col("ev") > lit(ts("2026-02-10 00:00:00"))).count() === 500)
    // trunc: a key range prunes to its id-block partitions
    val w2 = wh()
    ManifestVersioned.writeFullMulti(spark, w2, "t",
      (0L until 500L).toDF("k"), Seq("p_blk"),
      properties = Map("graft.generated.p_blk" -> "trunc(100, k)"))
    assert(ManifestVersioned.manifestEntries(spark, w2, "t").size === 5)
    val kept2 = ManifestVersioned.readWhereFiles(spark, w2, "t",
      Seq(ZoneGe("k", Long.box(250L)), ZoneLt("k", Long.box(350L))))
    assert(kept2.size === 2, s"blocks 2 and 3 survive, got ${kept2.size}")
    assert(ManifestVersioned.readFiltered(spark, w2, "t",
      col("k") >= 250L && col("k") < 350L).count() === 100)
  }

  test("generated and source columns refuse DROP/RENAME while the " +
      "declaration stands; UNSET frees them") {
    val w = wh()
    ManifestVersioned.writeFullMulti(spark, w, "t",
      Seq((1L, ts("2026-03-01 10:00:00"), "x")).toDF("k", "ev", "tag"),
      Seq("p_day"),
      properties = Map("graft.generated.p_day" -> "days(ev)"))
    assert(intercept[IllegalArgumentException] {
      ManifestVersioned.dropColumns(spark, w, "t", Seq("ev"))
    }.getMessage.contains("graft.generated"))
    assert(intercept[IllegalArgumentException] {
      ManifestVersioned.renameColumn(spark, w, "t", "ev", "ev2")
    }.getMessage.contains("graft.generated"))
    // non-involved columns stay free
    ManifestVersioned.renameColumn(spark, w, "t", "tag", "label")
    // UNSET the declaration, then the source is an ordinary column
    ManifestVersioned.unsetTableProperties(spark, w, "t",
      Seq("graft.generated.p_day"))
    ManifestVersioned.renameColumn(spark, w, "t", "ev", "ev2")
    assert(ManifestVersioned.read(spark, w, "t").columns.contains("ev2"))
  }

  test("non-UTC session: tz-sensitive writes refuse loudly, reads " +
      "decline derivation but stay correct") {
    val w = wh()
    ManifestVersioned.writeFullMulti(spark, w, "t",
      Seq((1L, ts("2026-03-01 10:00:00"))).toDF("k", "ev"), Seq("p_day"),
      properties = Map("graft.generated.p_day" -> "days(ev)"))
    val tz0 = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      assert(intercept[IllegalArgumentException] {
        ManifestVersioned.writeDelta(spark, w, "t",
          Seq((2L, ts("2026-03-02 08:00:00"))).toDF("k", "ev"), "p_day")
      }.getMessage.contains("UTC"))
      // reads: tz-sensitive derivation declines (conservative), the
      // read itself neither throws nor loses rows
      assert(ManifestVersioned.readFiltered(spark, w, "t",
        col("ev") >= lit(ts("2026-02-01 00:00:00"))).count() === 1)
      assert(ManifestVersioned.readFiltered(spark, w, "t",
        col("ev") >= lit(ts("2026-03-05 00:00:00"))).count() === 0)
    } finally spark.conf.set("spark.sql.session.timeZone", tz0)
  }

  private def applySeq(rows: Seq[(Long, java.sql.Timestamp)]) = {
    import spark.implicits._
    rows.toDF("k", "ev")
  }
}
