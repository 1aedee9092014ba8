package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class LangModelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // Train: unigrams a:3 b:3 c:1 (T=7); bigrams (a,b):2 (b,a):1 (a,c):1 (b,b):1.
  private def train = Seq((0L, "a b a c"), (2L, "a b b")).toDF("doc_id", "text")

  private def scores(docs: org.apache.spark.sql.DataFrame) =
    LangModel.scoreDocs(docs, col("text"), "doc_id",
        LangModel.unigramCounts(train, col("text")),
        LangModel.bigramCounts(train, col("text"), "doc_id"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  test("seen bigrams score c2/c1, unseen back off to alpha*c(w2)/T, OOV scores 0") {
    val out = scores(Seq((1L, "a b x c")).toDF("doc_id", "text"))
    // (a,b) seen: 1e6*2 div 3 = 666666; (b,x): x unseen -> 0;
    // (x,c) backoff: 2*1e6*1 div (5*7) = 57142.
    assert(out(1L) === ((666666L + 0L + 57142L, 3L, 241269L)))
  }

  test("in-corpus document scores sum its transition ratios") {
    val out = scores(train)
    // doc 0 = a b a c: 666666 + (1e6 div 3 = 333333) + 333333
    assert(out(0L) === ((1333332L, 3L, 444444L)))
  }

  test("documents with fewer than two tokens emit no row") {
    val out = scores(Seq((5L, "solo"), (6L, ""), (7L, "a b")).toDF("doc_id", "text"))
    assert(out.keySet === Set(7L))
  }

  test("scoreBuckets cuts terciles and labels head >= middle >= tail") {
    import spark.implicits._
    // 6 docs with distinct avg_scores -> 2 per bucket at exact terciles
    val scored = Seq(
      (1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L), (6L, 60L))
      .toDF("doc_id", "avg_score")
    val got = LangModel.scoreBuckets(scored, "doc_id")
      .select("doc_id", "ppl_bucket").as[(Long, String)].collect().toMap
    // cuts at positions (n-1)/3: c_lo = 10+ (5/3)*10 = 26.67, c_hi = 43.33
    assert(got === Map(1L -> "tail", 2L -> "tail", 3L -> "middle",
      4L -> "middle", 5L -> "head", 6L -> "head"))
    val again = LangModel.scoreBuckets(scored.repartition(4), "doc_id")
      .select("doc_id", "ppl_bucket").as[(Long, String)].collect().toMap
    assert(again === got)
  }

  test("stored counts score identically to live training") {
    val wh = Files.createTempDirectory("graft_lmspec").toString
    val docs = train.unionAll(Seq((1L, "a b x c")).toDF("doc_id", "text"))
    LangModel.writeLmState(train, col("text"), "doc_id", wh, "lm_spec", 4)
    val stored = LangModel.scoreStored(spark, "lm_spec", docs, col("text"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored === scores(docs).map { case (k, v) => k -> v._1 })
  }

  test("delta state: appended batches score like a from-scratch retrain; replay is a no-op") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_lmdelta").toString
    val b1 = train.filter(col("doc_id") === 0)
    val b2 = train.filter(col("doc_id") =!= 0)
    val docs = train.unionAll(Seq((1L, "a b x c")).toDF("doc_id", "text"))
    LangModel.writeLmDeltaState(b1, col("text"), "doc_id", wh, "lmd_spec", 4, "b1")
    LangModel.appendLmDelta(spark, "lmd_spec", b2, col("text"), "doc_id", 4, "b2")
    val got = LangModel.scoreDeltaStored(spark, "lmd_spec", docs, col("text"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // delta-sum == retrain on the union
    assert(got === scores(docs).map { case (k, v) => k -> v._1 })
    // at-least-once replay: same tag, no double-count
    LangModel.appendLmDelta(spark, "lmd_spec", b2, col("text"), "doc_id", 4, "b2")
    val again = LangModel.scoreDeltaStored(spark, "lmd_spec", docs, col("text"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === got)
  }

  test("delta state: a batch that died between its unigram and bigram " +
      "appends replays without double-counting its unigrams") {
    val wh = Files.createTempDirectory("graft_lmcrash").toString
    val b1 = train.filter(col("doc_id") === 0)
    val b2 = train.filter(col("doc_id") =!= 0)
    LangModel.writeLmDeltaState(b1, col("text"), "doc_id", wh, "lmc_spec",
      4, "b1")
    // the crash window: b2's unigram delta lands, then the bigram phase
    // dies (here on a missing id column) before the batch completes
    intercept[org.apache.spark.sql.AnalysisException] {
      LangModel.appendLmDelta(spark, "lmc_spec", b2, col("text"),
        "no_such_id", 4, "b2")
    }
    // the at-least-once replay of the same batch
    LangModel.appendLmDelta(spark, "lmc_spec", b2, col("text"), "doc_id", 4,
      "b2")
    def summed(t: String, keys: Seq[String], c: String) =
      spark.table(t).groupBy(keys.map(col): _*).agg(sum(c).cast("long"))
        .collect().map(r => r.toSeq.init -> r.getLong(keys.size)).toMap
    def once(df: org.apache.spark.sql.DataFrame, keys: Seq[String]) =
      df.collect().map(r => r.toSeq.init -> r.getLong(keys.size)).toMap
    assert(summed("lmc_spec_uni", Seq("w"), "c1") ===
      once(LangModel.unigramCounts(train, col("text")), Seq("w")),
      "unigram counts must equal a single apply of each batch")
    assert(summed("lmc_spec_bi", Seq("w1", "w2"), "c2") ===
      once(LangModel.bigramCounts(train, col("text"), "doc_id"),
        Seq("w1", "w2")))
  }
}
