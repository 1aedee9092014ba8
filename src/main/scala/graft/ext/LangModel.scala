package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{PhaseLedger, Tables}

/** Count-based bigram language-model scoring — the CCNet-style "does this
  * document look like the reference corpus" quality filter: train n-gram
  * counts on a trusted corpus, score every crawl document by how its word
  * transitions rate under the model, keep the well-scored tail. The
  * smoothing is Stupid Backoff (Brants et al. 2007, "Large Language
  * Models in Machine Translation") — score(w2|w1) = c(w1w2)/c(w1) when
  * the bigram was seen, else α·c(w2)/T with α = 2/5 — the scheme built
  * for EXACTLY this shape (massive corpora, distributed counting, no
  * normalization pass).
  *
  * Determinism contract: all scores are FIXED-POINT longs — per-bigram
  * `(Scale·c2) div c1` / `(2·Scale·c2u) div (5·T)` with positive-operand
  * integer division, summed per document. No libm, no doubles; the
  * DuckDB oracle replays training and scoring bit-for-bit.
  *
  * Scale design (100 TB): training is two hash-shuffled counts over the
  * exploded train corpus (unigram keyed on the token, bigram on the
  * pair) — Zipf-bounded relations, with map-side partial aggregation.
  * Scoring joins each document bigram against the count relations on
  * their NATURAL keys (shuffled equi-joins — count relations are not
  * broadcast: a web-scale vocabulary is not driver-sized), then one
  * per-document sum whose shuffle carries (id, long). The total-token
  * scalar is a 1-row aggregate, crossJoin-broadcast by construction.
  */
object LangModel {

  val Scale = 1000000L

  /** (w1, w2) transition rows of each document — position-preserving
    * (repeats kept), empty for docs with fewer than two tokens, exactly
    * like the oracle's `generate_series(1, len-1)`.
    */
  def bigrams(docs: DataFrame, text: Column, idCol: String): DataFrame = {
    val toks = TextAnalysis.tokens(text)
    docs
      .select(col(idCol), toks.as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(col(idCol),
        explode(zip_with(
          slice(col("__toks"), lit(1), size(col("__toks")) - 1),
          slice(col("__toks"), lit(2), size(col("__toks")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
      .select(col(idCol), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
  }

  /** Train-side unigram counts: (w, c1). */
  def unigramCounts(train: DataFrame, text: Column): DataFrame =
    train.select(explode(TextAnalysis.tokens(text)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))

  /** Train-side bigram counts: (w1, w2, c2). */
  def bigramCounts(train: DataFrame, text: Column, idCol: String): DataFrame =
    bigrams(train, text, idCol).groupBy("w1", "w2").agg(count(lit(1)).as("c2"))

  /** Score `docs` under trained counts. Emits one row per document that
    * has at least one bigram: (id, lm_score, n_bigrams, avg_score) with
    *
    *   per-bigram = (Scale·c2) div c1(w1)        seen bigram
    *              = (2·Scale·c1(w2)) div (5·T)   backoff (0 if w2 unseen)
    *
    * `avg_score` = lm_score div n_bigrams is the length-normalized form
    * the keep/drop threshold applies to (a raw sum favors long docs).
    */
  def scoreDocs(docs: DataFrame, text: Column, idCol: String,
      uni: DataFrame, bi: DataFrame): DataFrame = {
    // constant-key BHJ against the 1-row total (never a crossJoin — that
    // plans BroadcastNestedLoopJoin, which PlanGuard bans repo-wide)
    val tot = uni.agg(sum("c1").cast("long").as("__tot"))
      .withColumn("__one", pmod(xxhash64(col("__tot")), lit(1)))
    bigrams(docs, text, idCol)
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni.select(col("w").as("w1"), col("c1").as("__c1_prev")), Seq("w1"), "left")
      .join(uni.select(col("w").as("w2"), col("c1").as("__c1_cur")), Seq("w2"), "left")
      .withColumn("__one", pmod(xxhash64(col(idCol)), lit(1)))
      .join(broadcast(tot), "__one")
      .withColumn("__s",
        when(col("c2").isNotNull,
          expr(s"(${Scale}L * c2) div __c1_prev"))
          .otherwise(expr(s"(2L * ${Scale}L * coalesce(__c1_cur, 0L)) div (5L * __tot)")))
      .groupBy(col(idCol))
      .agg(sum("__s").as("lm_score"), count(lit(1)).as("n_bigrams"))
      .withColumn("avg_score", expr("lm_score div n_bigrams"))
  }

  /** CCNet-style head/middle/tail bucketing of [[scoreDocs]] output: cut
    * the corpus at the terciles of `avg_score` (exact interpolated
    * percentiles — both engines compute `lower + frac·(higher−lower)` at
    * position (n−1)·p, identically on integer inputs) and label each
    * document head (most target-corpus-like), middle, or tail. CCNet
    * (Wenzek et al. 2020) trains/filters per bucket — head feeds the
    * model, tail gets dropped or down-weighted.
    *
    * Scale: the cut relation is ONE row (an exact-percentile aggregate —
    * at true corpus scale swap in `approx_percentile`, same shape)
    * attached via a constant-key broadcast hash join; bucketing is then
    * pure map work. No corpus-scale window, no global sort.
    */
  def scoreBuckets(scored: DataFrame, idCol: String): DataFrame = {
    val cuts = scored
      .agg(expr("percentile(avg_score, array(1.0D / 3.0D, 2.0D / 3.0D))").as("cs"))
      .select(element_at(col("cs"), 1).as("__c_lo"),
        element_at(col("cs"), 2).as("__c_hi"))
      .withColumn("__one", pmod(xxhash64(col("__c_lo")), lit(1)))
    scored
      .withColumn("__one", pmod(xxhash64(col(idCol)), lit(1)))
      .join(broadcast(cuts), "__one")
      .withColumn("ppl_bucket",
        when(col("avg_score") >= col("__c_hi"), lit("head"))
          .when(col("avg_score") >= col("__c_lo"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col(idCol), col("avg_score"), col("ppl_bucket"))
  }

  /** Persist trained counts to the warehouse, bucketed on their scoring
    * join keys (`w` / `w1`) so nightly scoring reads pre-shuffled state.
    * Counts are decomposable — append maintenance is
    * [[IncrementalAgg.combine]]-shaped (sum per key) if the trusted
    * corpus itself grows.
    */
  def writeLmState(train: DataFrame, text: Column, idCol: String,
      warehouseDir: String, name: String, numBuckets: Int): Unit = {
    Tables.writeWarehouseBucketed(unigramCounts(train, text),
      warehouseDir, s"${name}_uni", "w", numBuckets)
    Tables.writeWarehouseBucketed(bigramCounts(train, text, idCol),
      warehouseDir, s"${name}_bi", "w1", numBuckets)
  }

  /** [[scoreDocs]] against stored counts — zero train-corpus scans. */
  def scoreStored(spark: SparkSession, name: String,
      docs: DataFrame, text: Column, idCol: String): DataFrame =
    scoreDocs(docs, text, idCol,
      Tables.readWarehouseBucketed(spark, s"${name}_uni"),
      Tables.readWarehouseBucketed(spark, s"${name}_bi"))

  /** LOG-STRUCTURED count state — the O(batch) growth path
    * [[writeLmState]]'s materialized counts can't offer (a sum-merge of
    * plain parquet counts is a full-state rewrite per batch). The delta
    * tables hold count CONTRIBUTION rows (one per batch per key) and are
    * only ever APPENDED; readers merge at read time by summing per key —
    * and because both tables are BUCKETED on their key, that sum is a
    * co-located partial aggregate with zero shuffle on the state side.
    * Counts are decomposable, so delta-sum ≡ retrain on the union corpus
    * (the declared query pins it against the from-scratch oracle).
    *
    * Replay safety: `batchTag` names each ingested batch in a two-phase
    * [[graft.io.PhaseLedger]] (`uni`, `bi`) under the session warehouse
    * dir; each phase is marked right after its append lands, so an
    * at-least-once runner (foreachBatch, retried orchestration) can
    * repeat a batch — even one that died between its two appends —
    * without double-counting: the replay skips every phase already
    * marked. Seeding resets the ledger and marks the seed batch.
    * Periodic [[compactLmDeltaState]] folds
    * accumulated deltas back to one row per key (a pure representation
    * change — readers see identical sums).
    */
  def writeLmDeltaState(train: DataFrame, text: Column, idCol: String,
      warehouseDir: String, name: String, numBuckets: Int,
      batchTag: String): Unit = {
    val spark = train.sparkSession
    val ledger = ledgerRoot(spark)
    PhaseLedger.reset(spark, ledger, name)
    Tables.writeWarehouseBucketed(unigramCounts(train, text),
      warehouseDir, s"${name}_uni", "w", numBuckets)
    Tables.writeWarehouseBucketed(bigramCounts(train, text, idCol),
      warehouseDir, s"${name}_bi", "w1", numBuckets)
    Seq("uni", "bi").foreach(PhaseLedger.mark(spark, ledger, name, batchTag, _))
  }

  /** Append one batch's count deltas (see [[writeLmDeltaState]]).
    * Idempotent per `batchTag` and phase: a replay skips each of the
    * unigram and bigram appends its ledger marks as landed. A probe is
    * one filesystem `exists`, no Spark job.
    */
  def appendLmDelta(spark: SparkSession, name: String, batch: DataFrame,
      text: Column, idCol: String, numBuckets: Int,
      batchTag: String): Unit = {
    val ledger = ledgerRoot(spark)
    if (!PhaseLedger.marked(spark, ledger, name, batchTag, "uni")) {
      unigramCounts(batch, text)
        .write.mode("append")
        .bucketBy(numBuckets, "w").sortBy("w")
        .saveAsTable(s"${name}_uni")
      PhaseLedger.mark(spark, ledger, name, batchTag, "uni")
    }
    if (!PhaseLedger.marked(spark, ledger, name, batchTag, "bi")) {
      bigramCounts(batch, text, idCol)
        .write.mode("append")
        .bucketBy(numBuckets, "w1").sortBy("w1")
        .saveAsTable(s"${name}_bi")
      PhaseLedger.mark(spark, ledger, name, batchTag, "bi")
    }
  }

  /** The delta state's ledger root: the session warehouse dir, where
    * [[appendLmDelta]]'s catalog appends resolve their tables too.
    */
  private def ledgerRoot(spark: SparkSession): String =
    spark.conf.get("spark.sql.warehouse.dir")

  /** [[scoreDocs]] over the delta state: read-time merge (per-key sums,
    * co-located on the bucket layout) then the standard scoring joins —
    * still zero train-corpus scans.
    */
  def scoreDeltaStored(spark: SparkSession, name: String,
      docs: DataFrame, text: Column, idCol: String): DataFrame = {
    val uni = Tables.readWarehouseBucketed(spark, s"${name}_uni")
      .groupBy("w").agg(sum("c1").cast("long").as("c1"))
    val bi = Tables.readWarehouseBucketed(spark, s"${name}_bi")
      .groupBy("w1", "w2").agg(sum("c2").cast("long").as("c2"))
    scoreDocs(docs, text, idCol, uni, bi)
  }

  /** Fold accumulated delta rows back to ONE row per key — the periodic
    * compaction that bounds read-time merge cost after many appends. A
    * pure representation change: readers observe identical sums before
    * and after (the declared query scores against the same oracle
    * post-compaction), the batch ledger is untouched, and the bucket
    * layout is preserved. Cost is O(state), amortized across the appends
    * it folds; the per-key sum runs co-located on the bucket layout.
    *
    * Durability: each folded relation is FULLY staged on disk
    * (`._fold`, `_SUCCESS`-marked) before its bucketed rewrite — never
    * only an executor-memory checkpoint mid-overwrite; a crash
    * mid-rewrite is repaired by [[recoverLmCompaction]].
    */
  def compactLmDeltaState(spark: SparkSession, warehouseDir: String,
      name: String, numBuckets: Int): Unit = {
    foldRel(spark, s"${name}_uni", Seq("w"), "c1")
      .write.mode("overwrite").parquet(s"$warehouseDir/${name}_uni._fold")
    rewriteLmFromStage(spark, warehouseDir, s"${name}_uni", "w", numBuckets)
    foldRel(spark, s"${name}_bi", Seq("w1", "w2"), "c2")
      .write.mode("overwrite").parquet(s"$warehouseDir/${name}_bi._fold")
    rewriteLmFromStage(spark, warehouseDir, s"${name}_bi", "w1", numBuckets)
  }

  private def foldRel(spark: SparkSession, rel: String, keys: Seq[String],
      cnt: String): DataFrame =
    Tables.readWarehouseBucketed(spark, rel)
      .groupBy(keys.map(col): _*).agg(sum(cnt).cast("long").as(cnt))

  private def rewriteLmFromStage(spark: SparkSession, warehouseDir: String,
      rel: String, bucketCol: String, numBuckets: Int): Unit = {
    val stage = new org.apache.hadoop.fs.Path(s"$warehouseDir/$rel._fold")
    Tables.writeWarehouseBucketed(spark.read.parquet(stage.toString),
      warehouseDir, rel, bucketCol, numBuckets)
    stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(stage, true)
  }

  /** Repair a [[compactLmDeltaState]] interrupted mid-run: complete
    * (`_SUCCESS`-marked) staging redoes the rewrite, incomplete staging
    * sweeps (the live relation was never touched).
    */
  def recoverLmCompaction(spark: SparkSession, warehouseDir: String,
      name: String, numBuckets: Int): Unit =
    Seq((s"${name}_uni", "w"), (s"${name}_bi", "w1")).foreach {
      case (rel, bucketCol) =>
        val stage = new org.apache.hadoop.fs.Path(s"$warehouseDir/$rel._fold")
        val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(stage)) {
          if (fs.exists(new org.apache.hadoop.fs.Path(stage, "_SUCCESS")))
            rewriteLmFromStage(spark, warehouseDir, rel, bucketCol, numBuckets)
          else fs.delete(stage, true)
        }
    }
}
