package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.Merge
import graft.io.Tables

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("systemid", StringType),
    StructField("name", StringType),
    StructField("amount", DoubleType),
    StructField("systemcreatedat", TimestampType),
    StructField("systemcreatedby", StringType),
    StructField("systemmodifiedat", TimestampType),
    StructField("systemmodifiedby", StringType)))

  private def writeCsv(dir: java.nio.file.Path, name: String, rows: Seq[String]): Unit = {
    val header = "systemid,name,amount,systemcreatedat,systemcreatedby,systemmodifiedat,systemmodifiedby"
    Files.write(dir.resolve(name), ((header +: rows).mkString("\n") + "\n").getBytes)
  }

  private val zero = graft.core.Pipeline.ZeroGuid

  test("corpus-cleaning map operators run unchanged on a stream (batch-parity)") {
    import graft.ext.TextAnalysis
    val dir = Files.createTempDirectory("graft-textstream")
    val docs = Seq(
      (1L, "the quick brown fox jumps over a lazy dog and then rests by the river for a while"),
      (2L, "buy now buy now buy now buy now buy now buy now buy now buy now buy now buy now"),
      (3L, "reach jane.doe@example.com for the full dataset description and the license terms today"),
      (4L, "!!!"))
    Files.write(dir.resolve("docs.jsonl"),
      docs.map { case (i, t) => s"""{"doc_id":$i,"text":"$t"}""" }
        .mkString("\n").getBytes)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def clean(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      TextAnalysis.withRepetitionStats(TextAnalysis.withTextStats(df, "text"), "text")
        .withColumn("clean", TextAnalysis.redactPii(col("text")))
        .withColumn("lang", TextAnalysis.langId(col("text")))
        .filter(col("quality_score") >= 3 && col("repetition_pass"))
        .select("doc_id", "clean", "lang", "quality_score")
    val q = clean(spark.readStream.schema(schema).json(dir.toString))
      .writeStream.format("memory").queryName("cleaned_docs")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("cleaned_docs")
      .as[(Long, String, String, Int)].collect().toSet
    val batch = clean(spark.read.schema(schema).json(dir.toString))
      .as[(Long, String, String, Int)].collect().toSet
    assert(streamed == batch)
    assert(streamed.map(_._1).contains(1L), "quality doc must survive")
    assert(!streamed.map(_._1).contains(2L), "repetition-stuffed doc must be filtered")
    assert(streamed.exists(r => r._1 == 3L && r._2.contains("<EMAIL>")),
      "pii must be redacted in-stream")
  }

  test("streaming ingest: 3 micro-batch rounds reproduce the batch merge semantics") {
    val root = Files.createTempDirectory("graft-stream")
    val src = Files.createDirectory(root.resolve("src"))
    val wh = root.resolve("wh").toString
    val ckpt = root.resolve("ckpt").toString
    val clock = to_timestamp(lit("2026-01-05 00:00:00"))

    def runRound(): Unit = {
      val stream = StreamingIngest.csvStream(spark, src.toString, schema)
      val q = StreamingIngest.sinkInto(stream, "graft-ingest-accounts", ckpt) {
        (b, _) => StreamingIngest.mergeBatch(spark, b, wh, "accounts",
          "systemid", graft.core.Pipeline.latestOrder,
          graft.core.Pipeline.bc2adlsTombstone, clock)
      }
      q.awaitTermination()
    }

    // round 1: initial load, v1 rows
    writeCsv(src, "b1.csv", Seq(
      s"A,alpha,10.0,2026-01-01 00:00:00,u1,2026-01-01 00:00:00,u1",
      s"B,beta,20.0,2026-01-01 00:00:00,u1,2026-01-01 00:00:00,u1"))
    runRound()
    val r1 = Tables.readWarehouse(spark, wh, "accounts")
    assert(r1.count() === 2)

    // round 2: update A (newer version) + new row C
    writeCsv(src, "b2.csv", Seq(
      s"A,alpha2,11.0,2026-01-01 00:00:00,u1,2026-01-02 00:00:00,u2",
      s"C,gamma,30.0,2026-01-02 00:00:00,u2,2026-01-02 00:00:00,u2"))
    runRound()
    val r2 = Tables.readWarehouse(spark, wh, "accounts")
    assert(r2.count() === 3)
    val aName = r2.filter($"systemid" === "A").select("name").as[String].head()
    assert(aName === "alpha2", "latest version must win")

    // round 3: tombstone B (bc2adls delete marker kills every version)
    writeCsv(src, "b3.csv", Seq(
      s"B,,,,$zero,,$zero"))
    runRound()
    val r3 = Tables.readWarehouse(spark, wh, "accounts")
    assert(r3.select("systemid").as[String].collect().sorted === Array("A", "C"))

    // restart with no new files: checkpoint high-water mark ⇒ no-op
    runRound()
    assert(Tables.readWarehouse(spark, wh, "accounts").count() === 2)
  }

  test("streaming incremental dedup: 3 rounds, stream-vs-batch parity on one code path") {
    import graft.ext.Dedup
    val root = Files.createTempDirectory("graft-stream-incdedup")
    val src = root.resolve("docs").toString
    val wh = root.resolve("wh").toString
    val ckpt = root.resolve("ckpt").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    // bootstrap: empty corpus → empty stored state
    val emptyDocs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], docSchema)
    Dedup.writeDedupState(emptyDocs, col("text"), "doc_id", 8, 3,
      wh, "stream_docs", numBuckets = 4)

    val rounds: Seq[Seq[(Long, String)]] = Seq(
      Seq(1L -> "one two three four five six seven eight nine ten",
          2L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      Seq(3L -> "one two three four five six seven eight nine ten",   // exact of 1 → drop
          4L -> "one two three four five six seven eight nine",       // near-dup of 1 → drop
          5L -> "completely fresh material with zero overlap anywhere today"),
      Seq(6L -> "completely fresh material with zero overlap anywhere",// near-dup of 5 → drop
          7L -> "statistics about rainfall in highland regions this year"))

    def runRound(rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(src)
      val q = StreamingIngest.sinkInto(
          spark.readStream.schema(docSchema).parquet(src),
          "graft-dedup-corpus", ckpt) { (b, id) =>
        StreamingIngest.dedupBatch(spark, b, id, wh, "corpus", "stream_docs",
          "text", "doc_id", numHashes = 8, bands = 4, shingleSize = 3,
          estJaccardThreshold = 0.5)
      }
      q.awaitTermination()
    }
    rounds.foreach(runRound)
    val streamed = Tables.readWarehouse(spark, wh, "corpus")
      .select("doc_id").as[Long].collect().sorted

    // batch twin: the recompute-form operator folded over the same rounds
    var corpus = emptyDocs
    rounds.foreach { rows =>
      val survivors = Dedup.incrementalDedup(corpus, rows.toDF("doc_id", "text"),
        col("text"), "doc_id", 8, 4, 3, 0.5).localCheckpoint(true)
      corpus = corpus.unionAll(survivors).localCheckpoint(true)
    }
    val batch = corpus.select("doc_id").as[Long].collect().sorted

    assert(streamed === batch, "stream and batch must accept identical survivors")
    assert(streamed === Array(1L, 2L, 5L, 7L),
      "exact copy (3), near-dup (4), and cross-round near-dup (6) must be dropped")

    spark.sql("DROP TABLE IF EXISTS stream_docs_hashes")
    spark.sql("DROP TABLE IF EXISTS stream_docs_sigs")
  }

  test("dedupBatch replay is idempotent (at-least-once foreachBatch contract)") {
    import graft.ext.Dedup
    val root = Files.createTempDirectory("graft-stream-replay")
    val wh = root.resolve("wh").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val emptyDocs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], docSchema)
    Dedup.writeDedupState(emptyDocs, col("text"), "doc_id", 8, 3,
      wh, "replay_docs", numBuckets = 4)
    val batch = Seq(
      1L -> "one two three four five six seven eight nine ten",
      2L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa")
      .toDF("doc_id", "text")
    def run(): Unit = StreamingIngest.dedupBatch(spark, batch, batchId = 0L,
      wh, "replay_corpus", "replay_docs", "text", "doc_id", 8, 4, 3, 0.5)
    run()
    val once = Tables.readWarehouse(spark, wh, "replay_corpus")
      .select("doc_id").as[Long].collect().sorted
    assert(once === Array(1L, 2L))
    // full replay of the SAME batchId (crash-after-writes, pre-commit):
    // the corpus partition is replaced, not appended — zero duplicates
    run()
    val twice = Tables.readWarehouse(spark, wh, "replay_corpus")
      .select("doc_id").as[Long].collect().sorted
    assert(twice === once, "replayed batch must not duplicate corpus rows")
    // and a LATER batch re-offering the same docs drops them as known
    StreamingIngest.dedupBatch(spark, batch, batchId = 1L,
      wh, "replay_corpus", "replay_docs", "text", "doc_id", 8, 4, 3, 0.5)
    assert(Tables.readWarehouse(spark, wh, "replay_corpus").count() === 2L)
    // schema drift: a batch with a renamed column must fail at the gate,
    // not land as a partition of mismatched files in the corpus
    val drifted = Seq(3L -> "lorem ipsum dolor sit amet consectetur")
      .toDF("doc_id", "body")
    val e = intercept[IllegalArgumentException] {
      StreamingIngest.dedupBatch(spark, drifted, batchId = 2L,
        wh, "replay_corpus", "replay_docs", "body", "doc_id", 8, 4, 3, 0.5)
    }
    assert(e.getMessage.contains("replay_corpus"))
    assert(Tables.readWarehouse(spark, wh, "replay_corpus").count() === 2L,
      "rejected batch must leave the corpus untouched")
    spark.sql("DROP TABLE IF EXISTS replay_docs_hashes")
    spark.sql("DROP TABLE IF EXISTS replay_docs_sigs")
  }

  test("streaming text-index ingest: stream ≡ rebuild, replay is idempotent") {
    import graft.ext.Relevance
    val root = Files.createTempDirectory("graft-stream-tix")
    val src = root.resolve("docs").toString
    val wh = root.resolve("wh").toString
    val ckpt = root.resolve("ckpt").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val baseDocs = Seq(
      1L -> "spark streams join the pipeline",
      2L -> "joins inside spark run fast").toDF("doc_id", "text")
    Relevance.writeTextIndex(baseDocs, col("text"), "doc_id",
      wh, "stream_tix", numBuckets = 4)

    val rounds: Seq[Seq[(Long, String)]] = Seq(
      Seq(3L -> "streaming pipelines join spark spark",
          4L -> "fresh words only here"),
      Seq(5L -> "the last round mentions spark too"))
    def runRound(rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(src)
      StreamingIngest.sinkInto(
          spark.readStream.schema(docSchema).parquet(src),
          "graft-textindex-stream_tix", ckpt) { (b, _) =>
        StreamingIngest.indexTextBatch(spark, b, wh, "stream_tix", "text",
          "doc_id", numBuckets = 4)
      }.awaitTermination()
    }
    rounds.foreach(runRound)

    // the streamed index must equal a from-scratch rebuild on the union
    // corpus (RelevanceSpec separately pins append ≡ rebuild)
    val union = baseDocs.unionAll(rounds.flatten.toDF("doc_id", "text"))
    Relevance.writeTextIndex(union, col("text"), "doc_id",
      wh, "stream_tix_ref", numBuckets = 4)
    def rel(name: String, t: String) = Tables
      .readWarehouseBucketed(spark, s"${name}_$t")
      .collect().map(_.toSeq).toSet
    for (t <- Seq("postings", "lengths", "totals"))
      assert(rel("stream_tix", t) === rel("stream_tix_ref", t),
        s"streamed $t must equal the rebuild")

    // full-batch replay (at-least-once contract): nothing changes
    StreamingIngest.indexTextBatch(spark,
      rounds.flatten.toDF("doc_id", "text"), wh, "stream_tix", "text",
      "doc_id", numBuckets = 4)
    for (t <- Seq("postings", "lengths", "totals"))
      assert(rel("stream_tix", t) === rel("stream_tix_ref", t),
        s"replayed batch must not change $t")
    for (n <- Seq("stream_tix", "stream_tix_ref"); t <- Seq("postings", "lengths", "totals"))
      spark.sql(s"DROP TABLE IF EXISTS ${n}_$t")
  }

  test("streaming LM-count ingest: delta state scores like a from-scratch retrain, replay idempotent") {
    import graft.ext.LangModel
    val root = Files.createTempDirectory("graft-stream-lm")
    val src = root.resolve("docs").toString
    val wh = root.resolve("wh").toString
    val ckpt = root.resolve("ckpt").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val seed = Seq(1L -> "a b a c a b").toDF("doc_id", "text")
    LangModel.writeLmDeltaState(seed, col("text"), "doc_id",
      wh, "stream_lm", 4, batchTag = "seed")

    val rounds: Seq[Seq[(Long, String)]] = Seq(
      Seq(2L -> "b c b a", 3L -> "c c a b"),
      Seq(4L -> "a b x b a"))
    def runRound(rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(src)
      StreamingIngest.sinkInto(
          spark.readStream.schema(docSchema).parquet(src),
          "graft-lmcounts-stream_lm", ckpt) { (b, id) =>
        StreamingIngest.lmCountsBatch(spark, b, "stream_lm", "text", "doc_id",
          numBuckets = 4, id)
      }.awaitTermination()
    }
    rounds.foreach(runRound)

    val union = seed.unionAll(rounds.flatten.toDF("doc_id", "text"))
    val scoreDocsDf = Seq((9L, "a b c x a")).toDF("doc_id", "text")
    def scored(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val streamed = scored(LangModel.scoreDeltaStored(spark, "stream_lm",
      scoreDocsDf, col("text"), "doc_id"))
    val retrain = scored(LangModel.scoreDocs(scoreDocsDf, col("text"), "doc_id",
      LangModel.unigramCounts(union, col("text")),
      LangModel.bigramCounts(union, col("text"), "doc_id")))
    assert(streamed === retrain, "streamed delta state must score like a retrain")

    // at-least-once replay of the last micro-batch (same batch id): no-op
    StreamingIngest.lmCountsBatch(spark,
      rounds.last.toDF("doc_id", "text"), "stream_lm", "text", "doc_id",
      numBuckets = 4, batchId = 1L)
    val again = scored(LangModel.scoreDeltaStored(spark, "stream_lm",
      scoreDocsDf, col("text"), "doc_id"))
    assert(again === streamed, "replayed batch must not double-count")

    // compaction is a pure representation change
    LangModel.compactLmDeltaState(spark, wh, "stream_lm", 4)
    val compacted = scored(LangModel.scoreDeltaStored(spark, "stream_lm",
      scoreDocsDf, col("text"), "doc_id"))
    assert(compacted === streamed, "compaction must preserve sums")
    for (t <- Seq("uni", "bi", "applied"))
      spark.sql(s"DROP TABLE IF EXISTS stream_lm_$t")
  }

  test("streaming IVFPQ ingest: new vectors searchable, stats ledger grows, replay idempotent") {
    import graft.ext.Similarity
    val root = Files.createTempDirectory("graft-stream-vix")
    val src = root.resolve("vecs").toString
    val wh = root.resolve("wh").toString
    val ckpt = root.resolve("ckpt").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val old = emb.filter($"vec_id" % 3 =!= 0)
    val batch = emb.filter($"vec_id" % 3 === 0)
    val vecSchema = old.schema
    Similarity.writeIvfPqIndex(old,
      emb.filter($"vec_id" < 8).select($"vec_id", $"embedding"),
      "vec_id", "embedding", numSubspaces = 8, codebookSize = 16,
      wh, "stream_vix", numBuckets = 4)
    val statsBefore = Tables.readWarehouseBucketed(spark, "stream_vix_stats")
      .count()

    batch.coalesce(1).write.mode("append").parquet(src)
    StreamingIngest.sinkInto(
        spark.readStream.schema(vecSchema).parquet(src),
        "graft-ivfpq-stream_vix", ckpt) { (b, _) =>
      StreamingIngest.indexVectorsBatch(spark, b, "stream_vix", "vec_id",
        "embedding", numBuckets = 4)
    }.awaitTermination()

    val codesOnce = Tables.readWarehouseBucketed(spark, "stream_vix_codes")
      .collect().map(_.toSeq).toSet
    assert(codesOnce.nonEmpty)
    // every batch id is encoded exactly once per subspace
    val perDoc = Tables.readWarehouseBucketed(spark, "stream_vix_codes")
      .groupBy("neighbor_id").count().select("count").distinct()
      .as[Long].collect().toSeq
    assert(perDoc === Seq(8L), "each doc must carry exactly 8 subspace codes")
    // the drift ledger gained append rows
    assert(Tables.readWarehouseBucketed(spark, "stream_vix_stats")
      .filter($"phase" === "append").count() > 0)
    val statsOnce = Tables.readWarehouseBucketed(spark, "stream_vix_stats")
      .collect().map(_.toSeq).toSet

    // replay the SAME batch directly: codes and stats must not change
    StreamingIngest.indexVectorsBatch(spark, batch, "stream_vix",
      "vec_id", "embedding", numBuckets = 4)
    assert(Tables.readWarehouseBucketed(spark, "stream_vix_codes")
      .collect().map(_.toSeq).toSet === codesOnce,
      "replayed batch must not duplicate code rows")
    assert(Tables.readWarehouseBucketed(spark, "stream_vix_stats")
      .collect().map(_.toSeq).toSet === statsOnce,
      "replayed batch must not duplicate stats rows")

    // appended vectors are searchable through the stored index
    val hits = Similarity.ivfPqTopKStored(spark, "stream_vix",
        emb.filter($"vec_id" % 50 === 0), "vec_id", "embedding", k = 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(hits.exists(_ % 3 == 0), "streamed vectors must be searchable")
    assert(statsBefore > 0)
    for (t <- Seq("centroids", "pqcodebook", "codes", "stats"))
      spark.sql(s"DROP TABLE IF EXISTS stream_vix_$t")
  }

  test("tumblingCounts over a bounded stream equals the batch tumbling query") {
    val root = Files.createTempDirectory("graft-stream-win").toString
    val events = Seq(
      (1L, "2026-01-01 00:05:00", "click", 1.0),
      (1L, "2026-01-01 00:55:00", "click", 2.0),
      (2L, "2026-01-01 01:10:00", "view", 3.0),
      (2L, "2026-01-01 01:20:00", "view", 4.0))
      .toDF("user_id", "ts_s", "event_type", "value")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
    val memName = "tumbling_out"
    val q = EventStreams.tumblingCounts(
      toStream(events, root), "ts", "1 hour", "10 minutes", Seq("event_type"))
      .writeStream.format("memory").queryName(memName)
      .outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // append mode emits only watermark-closed windows: with max event time
    // 01:20 and 10 min lateness, the 00:00 window is closed; 01:00 is not.
    val got = spark.table(memName)
      .select("event_type", "window_start", "n_events", "window_value")
      .as[(String, Timestamp, Long, Double)].collect().toSet
    assert(got === Set(
      ("click", Timestamp.valueOf("2026-01-01 00:00:00"), 2L, 3.0)))
  }

  test("slidingCounts emits every closed hopping-window instance (2 per event)") {
    val root = Files.createTempDirectory("graft-stream-slide").toString
    val events = Seq(
      (1L, "2026-01-01 00:40:00", "click", 1.0),  // windows 00:00 + 00:30
      (1L, "2026-01-01 00:50:00", "click", 2.0),  // windows 00:00 + 00:30
      (2L, "2026-01-01 03:00:00", "view", 9.0))   // pushes the watermark
      .toDF("user_id", "ts_s", "event_type", "value")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
    val q = EventStreams.slidingCounts(
      toStream(events, root), "ts", "1 hour", "30 minutes", "10 minutes",
      Seq("event_type"))
      .writeStream.format("memory").queryName("sliding_out")
      .outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("sliding_out")
      .select("event_type", "window_start", "n_events", "window_value")
      .as[(String, Timestamp, Long, Double)].collect().toSet
    // both click windows closed by the 03:00 watermark; the view's own
    // windows (02:30, 03:00) are still open in append mode
    assert(got === Set(
      ("click", Timestamp.valueOf("2026-01-01 00:00:00"), 2L, 3.0),
      ("click", Timestamp.valueOf("2026-01-01 00:30:00"), 2L, 3.0)))
  }

  test("sessionize emits gaps-and-islands sessions as the watermark closes them") {
    val root = Files.createTempDirectory("graft-stream-sess").toString
    import EventStreams.Event
    val events = Seq(
      Event(1L, Timestamp.valueOf("2026-01-01 00:00:00"), 1.0),
      Event(1L, Timestamp.valueOf("2026-01-01 00:10:00"), 2.0),  // same session
      Event(1L, Timestamp.valueOf("2026-01-01 01:00:00"), 3.0),  // new session
      Event(2L, Timestamp.valueOf("2026-01-01 00:00:00"), 5.0),
      Event(2L, Timestamp.valueOf("2026-01-01 09:00:00"), 7.0))  // pushes watermark
      .toDF()
    val q = EventStreams.sessionize(
      toStream(events, root).as[Event], gapMs = 30 * 60 * 1000, lateness = "1 minute")
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("sessions_out")
      .as[EventStreams.SessionAgg].collect()
      .map(s => (s.user_id, s.session_start.toString, s.n_events, s.session_value))
      .toSet
    // user 1: [00:00,00:10] closed (n=2, v=3), [01:00] closed; user 2's
    // 00:00 session closed; the 09:00 session is still open (no emission).
    assert(got === Set(
      (1L, "2026-01-01 00:00:00.0", 2L, 3.0),
      (1L, "2026-01-01 01:00:00.0", 1L, 3.0),
      (2L, "2026-01-01 00:00:00.0", 1L, 5.0)))
  }

  test("dedupedStream drops re-delivered keys within the watermark horizon") {
    val root = Files.createTempDirectory("graft-stream-dedup").toString
    val events = Seq(
      (1L, "2026-01-01 00:00:00", 1.0),
      (1L, "2026-01-01 00:00:30", 1.5),   // re-delivery of key 1 → dropped
      (2L, "2026-01-01 00:01:00", 2.0),
      (3L, "2026-01-01 02:00:00", 3.0))
      .toDF("user_id", "ts_s", "value")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
    val q = EventStreams.dedupedStream(
        toStream(events, root), Seq("user_id"), "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("dedup_out").select("user_id", "value")
      .as[(Long, Double)].collect().toSet
    assert(got === Set((1L, 1.0), (2L, 2.0), (3L, 3.0)))
  }

  /** Round-trip a small DataFrame through parquet files so it can be read
    * back as a bounded file-source stream (one micro-batch per file).
    */
  test("stream-stream intervalJoin pairs within the window and matches the batch join") {
    val root = Files.createTempDirectory("graft-stream-ij").toString
    val clicks = Seq(
      (1L, "2026-01-01 00:00:00", "c1"),
      (1L, "2026-01-01 02:00:00", "c2"),
      (2L, "2026-01-01 00:30:00", "c3"))
      .toDF("user_id", "ts_s", "click_id")
      .withColumn("click_ts", to_timestamp($"ts_s")).drop("ts_s")
    val buys = Seq(
      (1L, "2026-01-01 00:40:00", "b1"),  // pairs with c1 (40 min)
      (1L, "2026-01-01 02:30:00", "b2"),  // pairs with c2 (30 min), not c1
      (2L, "2026-01-01 03:00:00", "b3"),  // 2.5 h after c3 → no pair
      (3L, "2026-01-01 00:10:00", "b4"))  // keyless
      .toDF("user_id", "ts_s", "buy_id")
      .withColumn("buy_ts", to_timestamp($"ts_s")).drop("ts_s")
    val q = EventStreams.intervalJoin(
        toStream(clicks, s"$root/c"), toStream(buys, s"$root/b"),
        Seq("user_id"), "click_ts", "buy_ts", "10 minutes", "1 hour")
      .select($"click_id", $"buy_id")
      .writeStream.format("memory").queryName("ij_out")
      .outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("ij_out")
      .as[(String, String)].collect().toSet
    assert(streamed === Set(("c1", "b1"), ("c2", "b2")))
    // batch twin over the same bounded input produces the same pairs
    val batch = clicks.alias("l").join(buys.alias("r"),
      $"l.user_id" === $"r.user_id" &&
        $"r.buy_ts" >= $"l.click_ts" &&
        $"r.buy_ts" <= $"l.click_ts" + expr("INTERVAL 1 hour"))
      .select($"click_id", $"buy_id").as[(String, String)].collect().toSet
    assert(streamed === batch)
  }

  private def toStream(df: org.apache.spark.sql.DataFrame, root: String)
      : org.apache.spark.sql.DataFrame = {
    val dir = s"$root/in"
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    spark.readStream.schema(df.schema).parquet(dir)
  }

  test("streaming agg ingest: delta fold ≡ from-scratch aggregate, replay idempotent") {
    import graft.ext.IncrementalAgg
    val root = Files.createTempDirectory("graft-stream-agg")
    val src = root.resolve("ev").toString
    val wh = root.resolve("wh").toString
    val ckpt = root.resolve("ckpt").toString
    val evSchema = StructType(Seq(
      StructField("g", StringType), StructField("v", LongType)))
    val seed = Seq(("a", 10L), ("b", 5L)).toDF("g", "v")
    IncrementalAgg.writeDeltaState(wh, "sagg", seed, Seq("g"), col("v"), "seed")

    val rounds = Seq(
      Seq(("a", 1L), ("c", 7L)),
      Seq(("b", 2L), ("a", 3L)))
    def runRound(rows: Seq[(String, Long)]): Unit = {
      rows.toDF("g", "v").coalesce(1).write.mode("append").parquet(src)
      StreamingIngest.sinkInto(
          spark.readStream.schema(evSchema).parquet(src),
          "graft-agg-sagg", ckpt) { (b, id) =>
        IncrementalAgg.appendDeltaPartition(wh, "sagg", b, Seq("g"), col("v"),
          s"stream_$id")
      }.awaitTermination()
    }
    rounds.foreach(runRound)

    def state(): Map[String, (Long, Long, Long, Long)] =
      IncrementalAgg.readDeltaState(spark, wh, "sagg", Seq("g"))
        .as[(String, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val streamed = state()
    val union = seed.unionAll(rounds.flatten.toDF("g", "v"))
    val want = IncrementalAgg.partials(union, Seq("g"), col("v"))
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(streamed === want, "delta fold must equal a from-scratch aggregate")

    // at-least-once replay of the LAST micro-batch: partition replace → no-op
    IncrementalAgg.appendDeltaPartition(wh, "sagg", rounds.last.toDF("g", "v"),
      Seq("g"), col("v"), "stream_1")
    assert(state() === streamed, "replayed batch must not double-count")

    // compaction (between runs) is a pure representation change
    IncrementalAgg.compactDeltaState(spark, wh, "sagg", Seq("g"))
    assert(state() === streamed, "compaction must preserve the fold")
  }

  test("streaming join-left ingest: maintained view ≡ from-scratch join, replay idempotent") {
    import graft.ext.IncrementalJoin
    val root = Files.createTempDirectory("graft-stream-join")
    val wh = root.resolve("wh").toString
    val ckpt = root.resolve("ckpt").toString
    for (s0 <- Seq("left", "right", "out"))
      spark.sql(s"DROP TABLE IF EXISTS sjoin_$s0")
    try {
      val right = Seq((1L, "r1"), (2L, "r2")).toDF("k", "rval")
      val l0 = Seq((100L, 1L, "x")).toDF("lid", "k", "lval")
      IncrementalJoin.createStored(spark, wh, "sjoin", l0, right, "k", 2)

      val rounds = Seq(
        Seq((101L, 2L, "y"), (102L, 1L, "z")),
        Seq((103L, 2L, "w")))
      val src = root.resolve("in").toString
      def runRound(rows: Seq[(Long, Long, String)]): Unit = {
        rows.toDF("lid", "k", "lval").coalesce(1)
          .write.mode("append").parquet(src)
        StreamingIngest.sinkInto(
            spark.readStream.schema(l0.schema).parquet(src),
            "graft-join-sjoin", ckpt) { (b, _) =>
          StreamingIngest.joinLeftBatch(spark, b, wh, "sjoin", "k", "lid")
        }.awaitTermination()
      }
      rounds.foreach(runRound)

      def view(): Set[(Long, Long, String, String)] =
        IncrementalJoin.readStored(spark, "sjoin")
          .select("k", "lid", "lval", "rval")
          .as[(Long, Long, String, String)].collect().toSet
      val streamed = view()
      val allL = l0.unionAll(rounds.flatten.toDF("lid", "k", "lval"))
      val want = allL.join(right, Seq("k"))
        .select("k", "lid", "lval", "rval")
        .as[(Long, Long, String, String)].collect().toSet
      assert(streamed === want)

      // redelivery of already-committed rows: anti-join guard → no-op
      StreamingIngest.joinLeftBatch(spark,
        rounds.flatten.toDF("lid", "k", "lval"), wh, "sjoin", "k", "lid")
      assert(view() === streamed, "replayed rows must not duplicate join output")
    } finally
      for (s0 <- Seq("left", "right", "out"))
        spark.sql(s"DROP TABLE IF EXISTS sjoin_$s0")
  }

  test("joinLeftBatch crash between the out- and left-appends replays without duplicates") {
    import graft.ext.IncrementalJoin
    val root = Files.createTempDirectory("graft-stream-join2")
    val wh = root.resolve("wh").toString
    for (s0 <- Seq("left", "right", "out"))
      spark.sql(s"DROP TABLE IF EXISTS sjoin2_$s0")
    try {
      val right = Seq((1L, "r1"), (2L, "r2")).toDF("k", "rval")
      val l0 = Seq((100L, 1L, "x")).toDF("lid", "k", "lval")
      IncrementalJoin.createStored(spark, wh, "sjoin2", l0, right, "k", 2)

      // lid=202 has NO right match — the worst case for an out-based guard
      val batch = Seq((201L, 1L, "p"), (202L, 3L, "q")).toDF("lid", "k", "lval")
      // crashed first attempt: the _out append committed, _left never did
      val out0 = Tables.readWarehouseBucketed(spark, "sjoin2_out")
      batch.join(right, Seq("k"))
        .selectExpr(out0.columns.map(c => s"`$c`"): _*)
        .write.mode("append").insertInto("sjoin2_out")
      spark.catalog.refreshTable("sjoin2_out")

      // the at-least-once replay of the same batch
      StreamingIngest.joinLeftBatch(spark, batch, wh, "sjoin2", "k", "lid")
      val view = IncrementalJoin.readStored(spark, "sjoin2")
        .select("k", "lid", "lval", "rval")
        .as[(Long, Long, String, String)].collect().toSeq
      assert(view.count(_ == ((1L, 201L, "p", "r1"))) === 1,
        "the crashed attempt's rows must not be re-appended")
      assert(view.toSet === Set((1L, 100L, "x", "r1"), (1L, 201L, "p", "r1")))
      val left = Tables.readWarehouseBucketed(spark, "sjoin2_left")
        .select("lid").as[Long].collect().toSet
      assert(left === Set(100L, 201L, 202L),
        "the replay must complete the missed _left append (incl. the matchless row)")

      // one more full replay is a total no-op
      StreamingIngest.joinLeftBatch(spark, batch, wh, "sjoin2", "k", "lid")
      assert(IncrementalJoin.readStored(spark, "sjoin2").count() === 2)
      assert(Tables.readWarehouseBucketed(spark, "sjoin2_left").count() === 3)
    } finally
      for (s0 <- Seq("left", "right", "out"))
        spark.sql(s"DROP TABLE IF EXISTS sjoin2_$s0")
  }

  test("streaming CDC join ingest: deletes retract contributions, replay inert") {
    import graft.ext.IncrementalJoin
    val root = Files.createTempDirectory("graft-stream-cdcjoin")
    val wh = root.resolve("wh").toString
    val ckpt = root.resolve("ckpt").toString
    for (s0 <- Seq("left", "right", "out"))
      spark.sql(s"DROP TABLE IF EXISTS scdc_$s0")
    try {
      val right = Seq((1L, "r1"), (2L, "r2")).toDF("k", "rval")
      val l0 = Seq((100L, 1L, "x"), (101L, 2L, "y")).toDF("lid", "k", "lval")
      IncrementalJoin.createStoredCounted(spark, wh, "scdc", l0, right, "k", 2)

      val rounds = Seq(
        Seq((102L, 1L, "z", "insert"), (103L, 2L, "w", "insert")),
        // round 2 deletes an ORIGINAL row and one inserted last round
        Seq((100L, 1L, "x", "delete"), (103L, 2L, "w", "delete"),
          (104L, 1L, "v", "insert")))
      val schema = Seq((0L, 0L, "", "")).toDF("lid", "k", "lval", "op").schema
      val src = root.resolve("in").toString
      def runRound(rows: Seq[(Long, Long, String, String)]): Unit = {
        rows.toDF("lid", "k", "lval", "op").coalesce(1)
          .write.mode("append").parquet(src)
        StreamingIngest.sinkInto(
            spark.readStream.schema(schema).parquet(src),
            "graft-cdcjoin-scdc", ckpt) { (b, id) =>
          StreamingIngest.cdcJoinLeftBatch(spark, b, wh, "scdc", "k", "op", id)
        }.awaitTermination()
      }
      rounds.foreach(runRound)

      def view(): Set[(Long, Long, String, String)] =
        IncrementalJoin.readStoredCounted(spark, "scdc")
          .select("k", "lid", "lval", "rval")
          .as[(Long, Long, String, String)].collect().toSet
      val streamed = view()
      val survivors = Seq((101L, 2L, "y"), (102L, 1L, "z"), (104L, 1L, "v"))
        .toDF("lid", "k", "lval")
      val want = survivors.join(right, Seq("k"))
        .select("k", "lid", "lval", "rval")
        .as[(Long, Long, String, String)].collect().toSet
      assert(streamed === want,
        "deleted rows' join contributions must be retracted")

      // at-least-once redelivery of round 2 (same batch id): ledger no-op
      StreamingIngest.cdcJoinLeftBatch(spark,
        rounds(1).toDF("lid", "k", "lval", "op"), wh, "scdc", "k", "op",
        batchId = 1L)
      assert(view() === streamed, "replayed batch must not change the view")
    } finally
      for (s0 <- Seq("left", "right", "out"))
        spark.sql(s"DROP TABLE IF EXISTS scdc_$s0")
  }

  test("streaming CDC agg ingest: signed batches fold exactly, replay replaces partitions") {
    import graft.ext.IncrementalAgg
    val root = Files.createTempDirectory("graft-stream-cdcagg")
    val wh = root.resolve("wh").toString
    val ckpt = root.resolve("ckpt").toString
    val l0 = Seq(("a", 1L, 100L), ("a", 2L, 250L), ("b", 3L, 50L))
      .toDF("g", "id", "v_fp")
    IncrementalAgg.createRetractable(wh, "scdcagg", l0, Seq("g"), col("v_fp"))

    val rounds = Seq(
      Seq(("b", 4L, 10L, "insert"), ("c", 5L, 900L, "insert")),
      // delete one of a's rows and ALL of c's
      Seq(("a", 2L, 250L, "delete"), ("c", 5L, 900L, "delete")))
    val schema = Seq(("", 0L, 0L, "")).toDF("g", "id", "v_fp", "op").schema
    val src = root.resolve("in").toString
    def runRound(rows: Seq[(String, Long, Long, String)]): Unit = {
      rows.toDF("g", "id", "v_fp", "op").coalesce(1)
        .write.mode("append").parquet(src)
      StreamingIngest.sinkInto(
          spark.readStream.schema(schema).parquet(src),
          "graft-cdcagg-scdcagg", ckpt) { (b, id) =>
        StreamingIngest.cdcAggBatch(spark, b, wh, "scdcagg", Seq("g"),
          col("v_fp"), "op", id)
      }.awaitTermination()
    }
    rounds.foreach(runRound)

    def state(): Map[String, (Long, Long)] =
      IncrementalAgg.readRetractable(spark, wh, "scdcagg", Seq("g"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
    val streamed = state()
    assert(streamed === Map("a" -> ((1L, 100L)), "b" -> ((2L, 60L))),
      "deletes must cancel and group c must vanish")

    // replay of the delete batch (same batch id): partition replaced
    StreamingIngest.cdcAggBatch(spark,
      rounds(1).toDF("g", "id", "v_fp", "op"), wh, "scdcagg", Seq("g"),
      col("v_fp"), "op", batchId = 1L)
    assert(state() === streamed, "replayed batch must not double-retract")
  }

  test("streaming SCD2 ingest: stream ≡ one-pass history; completed and crashed batches replay safely") {
    import graft.ext.ScdState
    val root = Files.createTempDirectory("graft-stream-scd")
    val wh = root.resolve("wh").toString
    val ckpt = root.resolve("ckpt").toString
    spark.sql("DROP TABLE IF EXISTS sscd_hist")
    try {
      def ts(day: Int, hour: Int) =
        Timestamp.valueOf(f"2024-04-$day%02d $hour%02d:00:00")
      def df(rows: Seq[(Long, String, String, Timestamp)]) =
        rows.toDF("event_id", "user_id", "event_type", "ts")
      val n1 = Seq((1L, "A", "a1", ts(1, 9)), (2L, "B", "b1", ts(1, 10)))
      // night 2 carries an INTERNAL chain for A; night 3 re-arrives C
      val n2 = Seq((3L, "A", "a2", ts(5, 9)), (4L, "A", "a3", ts(5, 12)),
        (5L, "C", "c1", ts(6, 8)))
      val n3 = Seq((6L, "C", "c2", ts(9, 8)))

      ScdState.createStored(spark, wh, "sscd", df(n1), "user_id", "ts",
        col("event_id"), 2)

      val src = root.resolve("in").toString
      def runRound(rows: Seq[(Long, String, String, Timestamp)]): Unit = {
        df(rows).coalesce(1).write.mode("append").parquet(src)
        StreamingIngest.sinkInto(
            spark.readStream.schema(df(n1).schema).parquet(src),
            "graft-scd-sscd", ckpt) { (b, id) =>
          StreamingIngest.scdBatch(spark, b, wh, "sscd", "user_id", "ts",
            col("event_id"), id)
        }.awaitTermination()
      }
      runRound(n2)
      runRound(n3)

      val cols = Seq("event_id", "user_id", "event_type",
        "valid_from", "valid_to", "is_current")
      def state(): Set[(Long, String, String, Timestamp, Option[Timestamp], Boolean)] =
        ScdState.readStored(spark, wh, "sscd").select(cols.map(col): _*)
          .as[(Long, String, String, Timestamp, Option[Timestamp], Boolean)]
          .collect().toSet
      val streamed = state()
      val want = Merge.scdHistory(df(n1 ++ n2 ++ n3), Seq("user_id"), "ts",
          col("event_id"))
        .select(cols.map(col): _*)
        .as[(Long, String, String, Timestamp, Option[Timestamp], Boolean)]
        .collect().toSet
      assert(streamed === want)

      // full replay of a COMPLETED micro-batch: ledger short-circuit
      StreamingIngest.scdBatch(spark, df(n2), wh, "sscd", "user_id", "ts",
        col("event_id"), batchId = 0L)
      assert(state() === streamed, "completed batch must replay as a no-op")

      // crash window: a new batch's hist phase ran but nothing was marked;
      // the redelivered batch must converge without duplicate history rows
      val n4 = Seq((7L, "B", "b2", ts(12, 9)))
      ScdState.appendClosedPhase(spark, wh, "sscd", df(n4), "user_id", "ts",
        col("event_id"))
      spark.catalog.refreshTable("sscd_hist")
      StreamingIngest.scdBatch(spark, df(n4), wh, "sscd", "user_id", "ts",
        col("event_id"), batchId = 9L)
      val wantAll = Merge.scdHistory(df(n1 ++ n2 ++ n3 ++ n4), Seq("user_id"),
          "ts", col("event_id"))
        .select(cols.map(col): _*)
        .as[(Long, String, String, Timestamp, Option[Timestamp], Boolean)]
        .collect().toSet
      assert(state() === wantAll,
        "crashed-then-redelivered batch must converge exactly")
      // and one more replay of it is inert
      StreamingIngest.scdBatch(spark, df(n4), wh, "sscd", "user_id", "ts",
        col("event_id"), batchId = 9L)
      assert(state() === wantAll)
    } finally
      spark.sql("DROP TABLE IF EXISTS sscd_hist")
  }

  test("re-seeding a ledgered state resets its phase ledger: a fresh-checkpoint stream applies its first batch") {
    import graft.ext.{Dedup, ScdState, SessionState}
    import graft.io.PhaseLedger
    val root = Files.createTempDirectory("graft-stream-reseed")
    val wh = root.resolve("wh").toString
    try {
      def ts(day: Int) = Timestamp.valueOf(f"2024-04-$day%02d 09:00:00")
      def df(rows: Seq[(Long, String, String, Timestamp)]) =
        rows.toDF("event_id", "user_id", "event_type", "ts")
      val n1 = Seq((1L, "A", "a1", ts(1)), (2L, "B", "b1", ts(1)))
      val n2 = Seq((3L, "A", "a2", ts(5)))
      def seed(): Unit = ScdState.createStored(spark, wh, "rscd", df(n1),
        "user_id", "ts", col("event_id"), 2)
      // each run streams n2 from its own source dir and checkpoint, so its
      // one micro-batch is tagged stream_0 both times
      def stream(run: String): Unit = {
        val src = root.resolve(s"in_$run").toString
        df(n2).coalesce(1).write.parquet(src)
        StreamingIngest.sinkInto(
            spark.readStream.schema(df(n1).schema).parquet(src),
            "graft-scd-rscd", root.resolve(s"ckpt_$run").toString) { (b, id) =>
          StreamingIngest.scdBatch(spark, b, wh, "rscd", "user_id", "ts",
            col("event_id"), id)
        }.awaitTermination()
      }
      val cols = Seq("event_id", "user_id", "valid_from", "valid_to", "is_current")
      def state() = ScdState.readStored(spark, wh, "rscd")
        .select(cols.map(col): _*).collect().map(_.toSeq).toSet
      val want = Merge.scdHistory(df(n1 ++ n2), Seq("user_id"), "ts",
          col("event_id"))
        .select(cols.map(col): _*).collect().map(_.toSeq).toSet
      seed(); stream("first")
      assert(state() === want)
      seed(); stream("second")
      assert(state() === want,
        "the re-seeded state's first stream_0 batch must apply, not " +
          "short-circuit on the earlier run's ledger marks")

      // the session and dup-span seeders reset the same ledger
      val ev = Seq(("A", Timestamp.valueOf("2024-06-01 10:00:00"), 1L))
        .toDF("user_id", "ts", "v")
      SessionState.createStored(spark, wh, "rsess", ev, "user_id", "ts",
        col("v"), "30 minutes", 2)
      PhaseLedger.mark(spark, wh, "rsess", "stream_0", "open")
      SessionState.createStored(spark, wh, "rsess", ev, "user_id", "ts",
        col("v"), "30 minutes", 2)
      assert(!PhaseLedger.marked(spark, wh, "rsess", "stream_0", "open"))
      val docs = Seq(1L -> "alpha beta gamma delta").toDF("doc_id", "text")
      Dedup.writeSpanState(docs, col("text"), "doc_id", 3, wh, "rspan", 2)
      PhaseLedger.mark(spark, wh, "rspan", "stream_0", "grams")
      Dedup.writeSpanState(docs, col("text"), "doc_id", 3, wh, "rspan", 2)
      assert(!PhaseLedger.marked(spark, wh, "rspan", "stream_0", "grams"))
    } finally
      for (t0 <- Seq("rscd_hist", "rsess_closed", "rspan_grams"))
        spark.sql(s"DROP TABLE IF EXISTS $t0")
  }

  test("a legacy table-backed phase ledger fails loudly instead of re-applying a batch") {
    import graft.ext.{IncrementalJoin, ScdState}
    val root = Files.createTempDirectory("graft-stream-legacy")
    val wh = root.resolve("wh").toString
    // the layout the table-backed ledger wrote: a bucketed parquet
    // relation of (batch_tag, phase) rows at {name}_applied
    def plantLegacy(name: String, phases: Seq[String]): Unit =
      Tables.writeWarehouseBucketed(
        phases.map(("stream_0", _)).toDF("batch_tag", "phase"),
        wh, s"${name}_applied", "batch_tag", 1)
    val guard = "pre-marker (table-backed) phase ledger"
    try {
      val v1 = Seq((1L, "A", Timestamp.valueOf("2024-04-01 09:00:00")))
        .toDF("event_id", "user_id", "ts")
      ScdState.createStored(spark, wh, "lscd", v1, "user_id", "ts",
        col("event_id"), 2)
      plantLegacy("lscd", Seq("hist", "cur"))
      def scd() = ScdState.readStored(spark, wh, "lscd").collect().toSet
      val before = scd()
      val v2 = Seq((2L, "A", Timestamp.valueOf("2024-04-05 09:00:00")))
        .toDF("event_id", "user_id", "ts")
      val e1 = intercept[IllegalArgumentException] {
        StreamingIngest.scdBatch(spark, v2, wh, "lscd", "user_id", "ts",
          col("event_id"), batchId = 0L)
      }
      assert(e1.getMessage.contains(guard))
      assert(scd() === before, "the guarded batch must not touch the state")

      val right = Seq((1L, "r1")).toDF("k", "rval")
      val left = Seq((100L, 1L)).toDF("lid", "k")
      IncrementalJoin.createStoredCounted(spark, wh, "lcj", left, right, "k", 2)
      plantLegacy("lcj", Seq("out", "left", "right"))
      def view() = IncrementalJoin.readStoredCounted(spark, "lcj")
        .collect().toSeq.map(_.toSeq).sortBy(_.toString)
      val viewBefore = view()
      val e2 = intercept[IllegalArgumentException] {
        IncrementalJoin.appendStoredCounted(spark, wh, "lcj",
          IncrementalJoin.inserts(Seq((101L, 1L)).toDF("lid", "k")),
          IncrementalJoin.inserts(right.limit(0)), "k", batchTag = "stream_0")
      }
      assert(e2.getMessage.contains(guard))
      assert(view() === viewBefore, "the guarded batch must not touch the view")
    } finally
      for (t0 <- Seq("lscd_hist", "lscd_applied", "lcj_left", "lcj_right",
          "lcj_out", "lcj_applied"))
        spark.sql(s"DROP TABLE IF EXISTS $t0")
  }

  test("streaming session ingest: stream ≡ one-pass sessionize; staged replay safe in every window") {
    import graft.ext.SessionState
    val root = Files.createTempDirectory("graft-stream-sess")
    val src = root.resolve("ev").toString
    val wh = root.resolve("wh").toString
    val ckpt = root.resolve("ckpt").toString
    spark.sql("DROP TABLE IF EXISTS ssess_closed")
    try {
      def tsv(day: Int, h: Int, m: Int) =
        java.sql.Timestamp.valueOf(f"2024-06-$day%02d $h%02d:$m%02d:00")
      val evSchema = StructType(Seq(
        StructField("user_id", StringType),
        StructField("ts", org.apache.spark.sql.types.TimestampType),
        StructField("v", LongType)))
      val rounds = Seq(
        Seq(("A", tsv(1, 23, 50), 10L), ("B", tsv(1, 10, 0), 1L)),
        Seq(("A", tsv(2, 0, 5), 20L), ("A", tsv(2, 9, 0), 5L)),
        Seq(("B", tsv(3, 10, 0), 2L)))
      SessionState.createStored(spark, wh, "ssess",
        rounds.head.toDF("user_id", "ts", "v"), "user_id", "ts", col("v"),
        "30 minutes", 2)
      rounds.tail.foreach { rows =>
        rows.toDF("user_id", "ts", "v").coalesce(1)
          .write.mode("append").parquet(src)
        StreamingIngest.sinkInto(
            spark.readStream.schema(evSchema).parquet(src),
            "graft-session-ssess", ckpt) { (b, id) =>
          StreamingIngest.sessionBatch(spark, b, wh, "ssess", "user_id", "ts",
            col("v"), "30 minutes", id)
        }.awaitTermination()
      }
      def state() = SessionState.readStored(spark, wh, "ssess", "user_id")
        .as[(String, java.sql.Timestamp, java.sql.Timestamp, Long, Long)]
        .collect().toSet
      val all = rounds.flatten.toDF("user_id", "ts", "v")
      val want = all
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), sum("v").as("fv"))
        .select(col("user_id"), col("session_window.start"),
          col("session_window.end"), col("n"), col("fv"))
        .as[(String, java.sql.Timestamp, java.sql.Timestamp, Long, Long)]
        .collect().toSet
      val streamed = state()
      assert(streamed === want, "stream ≡ one-pass sessionize")
      // the split-spanning A session is one merged 2-event session
      assert(streamed.exists(s => s._1 == "A" && s._4 == 2L && s._5 == 30L))

      // FULL replay of a completed micro-batch: ledger short-circuits
      StreamingIngest.sessionBatch(spark,
        rounds(1).toDF("user_id", "ts", "v"), wh, "ssess", "user_id",
        "ts", col("v"), "30 minutes", batchId = 0L)
      assert(state() === streamed)

      // crash window: staging + phase 1 done, open swap NOT done — the
      // re-run must resume from the STAGED fold, not re-merge the batch
      val extra = Seq(("B", tsv(3, 10, 10), 4L)).toDF("user_id", "ts", "v")
      val sessions = SessionState.mergedSessions(spark, wh, "ssess", extra,
        "user_id", "ts", col("v"), "30 minutes")
      val stage = new org.apache.hadoop.fs.Path(s"$wh/ssess._sess_stream_9")
      sessions.write.mode("overwrite").parquet(stage.toString)
      val wm = sessions.agg(max("last_ts")).head().getTimestamp(0)
      SessionState.appendClosedPhase(spark, wh, "ssess",
        spark.read.parquet(stage.toString), "user_id", wm, "30 minutes")
      spark.catalog.refreshTable("ssess_closed")
      StreamingIngest.sessionBatch(spark, extra, wh, "ssess", "user_id",
        "ts", col("v"), "30 minutes", batchId = 9L)
      val afterExtra = state()
      assert(afterExtra.exists(s => s._1 == "B" && s._4 == 2L && s._5 == 6L),
        s"B's tail session must fold the extra event exactly once: $afterExtra")
      val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(stage), "staging must be swept after the final mark")
    } finally
      spark.sql("DROP TABLE IF EXISTS ssess_closed")
  }

  test("streaming heavy-hitter ingest: stored summaries confirm like one batch pass, replay inert") {
    import graft.ext.SketchState
    val root = Files.createTempDirectory("graft-stream-hh")
    val src = root.resolve("toks").toString
    val wh = root.resolve("wh").toString
    val ckpt = root.resolve("ckpt").toString
    val tokSchema = StructType(Seq(StructField("tok", StringType)))

    val rounds = Seq(
      Seq.fill(300)("h1") ++ (1 to 120).map(i => s"t$i"),
      Seq.fill(100)("h1") ++ Seq.fill(130)("h2") ++ (121 to 230).map(i => s"t$i"),
      Seq.fill(120)("h2") ++ (231 to 350).map(i => s"t$i"))
    def runRound(toks: Seq[String]): Unit = {
      toks.toDF("tok").coalesce(1).write.mode("append").parquet(src)
      StreamingIngest.sinkInto(
          spark.readStream.schema(tokSchema).parquet(src),
          "graft-hh-shh", ckpt) { (b, id) =>
        SketchState.appendHhState(spark, wh, "shh", b, col("tok"), k = 4,
          s"stream_$id")
      }.awaitTermination()
    }
    rounds.foreach(runRound)

    val all = rounds.flatten // N=1000; >200: h1 (400), h2 (250)
    assert(SketchState.hhStateTotal(spark, wh, "shh") === all.size.toLong)
    def confirmed(): Map[String, Long] =
      SketchState.storedHeavyHitters(spark, wh, "shh",
        all.toDF("tok").repartition(6), col("tok"), 4)
        .as[(String, Long)].collect().toMap
    assert(confirmed() === Map("h1" -> 400L, "h2" -> 250L))

    // at-least-once replay of the last micro-batch: partition replace
    SketchState.appendHhState(spark, wh, "shh", rounds.last.toDF("tok"),
      col("tok"), k = 4, "stream_2")
    assert(SketchState.hhStateTotal(spark, wh, "shh") === all.size.toLong)
    assert(confirmed() === Map("h1" -> 400L, "h2" -> 250L))
  }

  test("streaming manifest-versioned sink: per-batch versions, file reuse, replay inert") {
    import graft.io.ManifestVersioned
    val root = Files.createTempDirectory("graft-stream-mv")
    val src = root.resolve("rows").toString
    val wh = root.resolve("wh").toString
    val ckpt = root.resolve("ckpt").toString
    val rowSchema = StructType(Seq(
      StructField("p", StringType), StructField("v", LongType)))
    ManifestVersioned.writeFull(spark, wh, "t",
      Seq(("a", 0L), ("b", 0L)).toDF("p", "v"), "p")
    val batches = Seq(Seq(("a", 1L)), Seq(("b", 2L), ("c", 3L)))
    batches.foreach { rows =>
      rows.toDF("p", "v").coalesce(1).write.mode("append").parquet(src)
      StreamingIngest.sinkInto(
          spark.readStream.schema(rowSchema).parquet(src),
          "graft-manifest-t", ckpt) { (b, id) =>
        StreamingIngest.manifestBatch(spark, b, wh, "t", "p", id)
      }.awaitTermination()
    }
    def cur() = ManifestVersioned.read(spark, wh, "t")
      .select("p", "v").as[(String, Long)].collect().toSet
    assert(cur() === Set(("a", 1L), ("b", 2L), ("c", 3L)))
    // every micro-batch boundary is a time-travelable version, and the
    // second batch REUSED partition a's files from the first
    assert(ManifestVersioned.listVersions(spark, wh, "t") === Seq(1, 2, 3))
    assert(ManifestVersioned.read(spark, wh, "t", Some(2))
      .select("p", "v").as[(String, Long)].collect().toSet ===
      Set(("a", 1L), ("b", 0L)))
    val m2 = ManifestVersioned.manifest(spark, wh, "t", Some(2))
    val m3 = ManifestVersioned.manifest(spark, wh, "t", Some(3))
    assert(m3(ManifestVersioned.keyOf("a")) === m2(ManifestVersioned.keyOf("a")))
    // at-least-once replay of the last micro-batch: note guard skips it
    StreamingIngest.manifestBatch(spark, batches.last.toDF("p", "v"),
      wh, "t", "p", batchId = 1L)
    assert(ManifestVersioned.listVersions(spark, wh, "t") === Seq(1, 2, 3),
      "replayed micro-batch must not burn a version")
    assert(cur() === Set(("a", 1L), ("b", 2L), ("c", 3L)))
  }

  test("streaming CC ingest: stream == from-scratch components, replay inert") {
    import graft.ext.{CcState, Dedup}
    val root = Files.createTempDirectory("graft-stream-cc")
    val src = root.resolve("pairs").toString
    val wh = root.resolve("wh").toString
    val ckpt = root.resolve("ckpt").toString
    val pairSchema = StructType(Seq(
      StructField("a", LongType), StructField("b", LongType)))
    val b0 = Seq((1L, 2L), (10L, 11L))
    val rounds = Seq(
      Seq((2L, 3L), (20L, 21L)),
      Seq((11L, 20L), (5L, 10L)))
    CcState.createCcState(spark, wh, "scc", b0.toDF("a", "b"), "a", "b")
    rounds.foreach { edges =>
      edges.toDF("a", "b").coalesce(1).write.mode("append").parquet(src)
      StreamingIngest.sinkInto(
          spark.readStream.schema(pairSchema).parquet(src),
          "graft-cc-scc", ckpt) { (b, id) =>
        CcState.appendCcEdges(spark, wh, "scc", b, "a", "b",
          seq = id.toInt + 1)
      }.awaitTermination()
    }
    def labels() = CcState.readCcLabels(spark, wh, "scc")
      .as[(Long, Long)].collect().toMap
    val want = Dedup.connectedComponents(
      (b0 ++ rounds.flatten).toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(labels() === want,
      "streamed label chain must equal the from-scratch components")
    // at-least-once replay of the last micro-batch
    CcState.appendCcEdges(spark, wh, "scc", rounds.last.toDF("a", "b"),
      "a", "b", seq = 2)
    assert(labels() === want, "replayed micro-batch must not change labels")
  }

  test("streaming EWMA ingest: stream == one-shot recurrence, replay inert") {
    import graft.ext.{Analytics, EwmaState}
    val root = Files.createTempDirectory("graft-stream-ewma")
    val wh = root.resolve("wh").toString
    val src = root.resolve("events").toString
    val ckpt = root.resolve("ckpt").toString
    val xs = Seq(100L, 200L, 50L, 400L, 0L, 300L)
    val rows = xs.zipWithIndex.map { case (x, i) => ("u", i.toLong, x) }
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("o", LongType), StructField("x", LongType)))
    EwmaState.createEwmaState(spark, wh, "sew",
      rows.take(2).toDF("k", "o", "x"), "k", col("o"), col("x"), 2L, 10L)
    Seq(rows.slice(2, 4), rows.drop(4)).foreach { r =>
      r.toDF("k", "o", "x").coalesce(1).write.mode("append").parquet(src)
      StreamingIngest.sinkInto(
          spark.readStream.schema(schema).parquet(src),
          "graft-ewma-sew", ckpt) { (b, id) =>
        EwmaState.appendEwmaBatch(spark, wh, "sew", b, "k", col("o"),
          col("x"), 2L, 10L, seq = id.toInt + 1)
      }.awaitTermination()
    }
    def series() = EwmaState.readEwmaSeries(spark, wh, "sew")
      .select("o", "s_fp").as[(Long, Long)].collect().toMap
    val want = Analytics.ewmaFixedPoint(rows.toDF("k", "o", "x"),
        "k", col("o"), col("x"), 2L, 10L)
      .select((col("seq") - 1).cast("long"), col("s_fp"))
      .as[(Long, Long)].collect().toMap
    assert(series() === want, "streamed fold must equal the one-shot fold")
    EwmaState.appendEwmaBatch(spark, wh, "sew", rows.drop(4).toDF("k", "o", "x"),
      "k", col("o"), col("x"), 2L, 10L, seq = 2)
    assert(series() === want, "replayed micro-batch must not change the series")
  }

  test("streaming image near-dup ingest: pair partitions == batch chain, state exactly-once") {
    import graft.ext.Multimodal
    val root = Files.createTempDirectory("graft-stream-img")
    val wh = root.resolve("wh").toString
    val src = root.resolve("hashes").toString
    val ckpt = root.resolve("ckpt").toString
    for (t0 <- Seq("simg_imgbands", "eimg_imgbands"))
      spark.sql(s"DROP TABLE IF EXISTS $t0")
    try {
      def hashesOf(xs: Seq[Long]) = Multimodal.aHashImages(
        xs.map(id => Multimodal.ImageAsset(id, Multimodal.syntheticPng(id)))
          .toDS()).toDF()
      val b0 = Seq(7L, 12L)
      val rounds = Seq(Seq(263L, 40L, 296L), Seq(268L))
      // expected pair sets from the parallel batch chain
      Multimodal.createImageHashState(spark, wh, "eimg", hashesOf(b0),
        "asset_id", 2)
      val expected = rounds.map(r =>
        Multimodal.appendImageNearDup(spark, wh, "eimg", hashesOf(r),
          "asset_id", 1).as[(Long, Long, Long)].collect().toSet)
      // streaming twin
      Multimodal.createImageHashState(spark, wh, "simg", hashesOf(b0),
        "asset_id", 2)
      val schema = hashesOf(b0).schema
      rounds.foreach { r =>
        hashesOf(r).coalesce(1).write.mode("append").parquet(src)
        StreamingIngest.sinkInto(
            spark.readStream.schema(schema).parquet(src),
            "graft-imgdup-simg", ckpt) { (b, id) =>
          StreamingIngest.imageNearDupBatch(spark, b, wh, "simg", "asset_id",
            maxDist = 1, id)
        }.awaitTermination()
      }
      def pairsOf(tag: String) = Tables.readWarehouse(spark, wh, "simg_imgpairs")
        .filter(col("_ingest_batch") === tag)
        .select("id_a", "id_b", "hamming")
        .as[(Long, Long, Long)].collect().toSet
      assert(pairsOf("stream_0") === expected(0))
      assert(pairsOf("stream_1") === expected(1))
      // at-least-once replay of the last micro-batch
      StreamingIngest.imageNearDupBatch(spark, hashesOf(rounds.last), wh,
        "simg", "asset_id", 1, batchId = 1L)
      assert(pairsOf("stream_1") === expected(1), "replay must replace identically")
      assert(Tables.readWarehouseBucketed(spark, "simg_imgbands")
        .select("asset_id").distinct().count() === 6L,
        "state append must stay exactly-once")
    } finally
      for (t0 <- Seq("simg_imgbands", "eimg_imgbands"))
        spark.sql(s"DROP TABLE IF EXISTS $t0")
  }

  test("streaming dup-span ingest: stream == nightly chain, ledger crash windows") {
    import graft.ext.Dedup
    val root = Files.createTempDirectory("graft-stream-span")
    val wh = root.resolve("wh").toString
    val src = root.resolve("docs").toString
    val ckpt = root.resolve("ckpt").toString
    for (t0 <- Seq("sspan_grams", "espan_grams"))
      spark.sql(s"DROP TABLE IF EXISTS $t0")
    try {
      val mk = (rows: Seq[(Long, String)]) => rows.toDF("doc_id", "text")
      val b0 = Seq(1L -> "alpha beta gamma delta epsilon")
      val rounds = Seq(
        Seq(10L -> "beta gamma delta unrelated words here",   // corpus overlap
          11L -> "fresh tokens only nothing shared at all"),
        Seq(20L -> "fresh tokens only nothing shared at all", // overlaps b1 gram state
          21L -> "totally novel content stream two"))
      // expected via the parallel nightly chain
      Dedup.writeSpanState(mk(b0), col("text"), "doc_id", 3, wh, "espan", 2)
      val expected = rounds.map { r =>
        val spans = Dedup.duplicateSpansIncremental(spark, "espan", mk(r),
          col("text"), "doc_id", 3).as[(Long, Int, Long)].collect().toSet
        Dedup.appendSpanState(spark, "espan", mk(r), col("text"), "doc_id", 3, 2)
        spans
      }
      assert(expected(0).nonEmpty && expected(1).nonEmpty,
        "fixture must exercise both corpus- and cross-batch overlap")
      // streaming twin
      Dedup.writeSpanState(mk(b0), col("text"), "doc_id", 3, wh, "sspan", 2)
      val schema = mk(b0).schema
      rounds.foreach { r =>
        mk(r).coalesce(1).write.mode("append").parquet(src)
        StreamingIngest.sinkInto(
            spark.readStream.schema(schema).parquet(src),
            "graft-dupspans-sspan", ckpt) { (b, id) =>
          StreamingIngest.dupSpansBatch(spark, b, wh, "sspan", "text",
            "doc_id", k = 3, minDocs = 2, numBuckets = 2, id)
        }.awaitTermination()
      }
      def spansOf(tag: String) = Tables.readWarehouse(spark, wh, "sspan_spans")
        .filter(col("_ingest_batch") === tag)
        .select("doc_id", "start", "gram_hash")
        .as[(Long, Int, Long)].collect().toSet
      assert(spansOf("stream_0") === expected(0))
      assert(spansOf("stream_1") === expected(1))
      // full replay of a completed batch short-circuits entirely
      StreamingIngest.dupSpansBatch(spark, mk(rounds.last), wh, "sspan",
        "text", "doc_id", 3, 2, 2, batchId = 1L)
      assert(spansOf("stream_1") === expected(1))
      // crash window: spans phase committed (sentinel row proves the
      // recompute is skipped), grams not yet appended — replay must keep
      // the committed spans and finish only the gram append
      val sentinel = Seq((99L, 0, 123L))
        .toDF("doc_id", "start", "gram_hash")
        .withColumn("_ingest_batch", lit("stream_2"))
      Tables.writeWarehousePartitioned(sentinel, wh, "sspan_spans",
        Seq("_ingest_batch"))
      graft.io.PhaseLedger.mark(spark, wh, "sspan", "stream_2", "spans")
      val b3 = Seq(30L -> "alpha beta gamma more words beyond")
      StreamingIngest.dupSpansBatch(spark, mk(b3), wh, "sspan",
        "text", "doc_id", 3, 2, 2, batchId = 2L)
      assert(spansOf("stream_2") === Set((99L, 0, 123L)),
        "a committed spans phase must not recompute")
      val grams = Tables.readWarehouseBucketed(spark, "sspan_grams")
      graft.functions.TextExpressions.register(spark)
      val b3grams = mk(b3).select(explode(call_function(
          "text_shingle_hashes", col("text"), lit(3))).as("g"))
        .as[Long].collect().toSet
      val stored = grams.select("gram_hash").as[Long].collect().toSet
      assert(b3grams.subsetOf(stored), "the gram phase must still complete")
    } finally
      for (t0 <- Seq("sspan_grams", "espan_grams"))
        spark.sql(s"DROP TABLE IF EXISTS $t0")
  }

  test("streaming count-min ingest: stream == one-shot grid, replay inert") {
    import graft.ext.SketchState
    val root = Files.createTempDirectory("graft-stream-cms")
    val src = root.resolve("toks").toString
    val wh = root.resolve("wh").toString
    val ckpt = root.resolve("ckpt").toString
    val tokSchema = StructType(Seq(StructField("tok", StringType)))
    val rounds = Seq(
      (1 to 40).flatMap(i => Seq.fill(i % 7 + 1)(s"t$i")),
      (20 to 60).flatMap(i => Seq.fill(i % 5 + 1)(s"t$i")),
      (50 to 90).flatMap(i => Seq.fill(i % 3 + 1)(s"t$i")))
    rounds.foreach { toks =>
      toks.toDF("tok").coalesce(1).write.mode("append").parquet(src)
      StreamingIngest.sinkInto(
          spark.readStream.schema(tokSchema).parquet(src),
          "graft-cms-scms", ckpt) { (b, id) =>
        SketchState.appendCmsState(spark, wh, "scms", b, col("tok"),
          depth = 4, width = 64, s"stream_$id")
      }.awaitTermination()
    }
    def grid(df: org.apache.spark.sql.DataFrame): Map[(Int, Long), Long] =
      df.select("row_i", "bucket", "cnt").as[(Int, Long, Long)]
        .collect().map { case (r, b, c) => (r, b) -> c }.toMap
    val oneShot = grid(SketchState.cmsSketch(
      rounds.flatten.toDF("tok"), col("tok"), 4, 64))
    assert(grid(SketchState.readCmsSketch(spark, wh, "scms")) === oneShot,
      "streamed per-batch grids must sum-fold to the one-shot grid")
    // at-least-once replay of the last micro-batch: partition replace
    SketchState.appendCmsState(spark, wh, "scms", rounds.last.toDF("tok"),
      col("tok"), 4, 64, "stream_2")
    assert(grid(SketchState.readCmsSketch(spark, wh, "scms")) === oneShot,
      "replayed micro-batch must not change the grid")
  }
}
