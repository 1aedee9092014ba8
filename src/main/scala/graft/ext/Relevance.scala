package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyword-relevance scoring over the document corpus — the retrieval
  * primitive behind corpus curation ("pull the docs most relevant to
  * topic X") and training-mix weighting.
  *
  * Scoring is TF-IDF in FIXED-POINT integer arithmetic: the idf weight is
  * `((N + 1) · scale) div (df_t + 1)` (integer division, scale = 10⁶), so
  * every per-term weight and the final per-doc sum are exact BIGINTs —
  * bit-identical in any engine and any summation order. A float idf
  * (`ln`-based BM25) would hash-diverge across libm implementations and
  * summation orders; the fixed-point form keeps the oracle exact. BM25's
  * tf saturation / length normalization would slot into the same shape
  * (per-term weight join → per-doc sum) at the cost of the exact oracle.
  *
  * Scale design: the explode is filtered to the query's terms BEFORE any
  * shuffle, so the grouped relation carries O(matching docs × query
  * terms) rows, not the corpus token count; the per-term document
  * frequency relation is ≤ |queryTerms| rows (broadcast is size-safe by
  * construction); corpus size N attaches via a constant-key broadcast
  * hash join (1-row relation — the `centroidFanout` pattern, no
  * BroadcastNestedLoopJoin).
  */
object Relevance {

  val DefaultScale = 1000000L

  /** Per-document fixed-point TF-IDF scores for `queryTerms`: one row per
    * document containing at least one term, `score = Σ_t tf_{d,t} ·
    * ((N+1)·scale div (df_t+1))`, descending-score-ready (exact BIGINT).
    */
  def tfidfScores(docs: DataFrame, text: Column, idCol: String,
      queryTerms: Seq[String], scale: Long = DefaultScale): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val ex = docs
      .select(col(idCol), explode(TextAnalysis.tokens(text)).as("term"))
      .filter(col("term").isInCollection(queryTerms))
    val tf = ex.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    // tf is distinct per (doc, term), so counting rows per term IS the
    // document frequency — no second pass over the corpus.
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nRel = docs.select(col(idCol)).agg(count(lit(1)).as("__n"))
    // constant-key BHJ against the 1-row N relation: the key must be
    // column-derived (a bare lit folds away → keyless nested loop).
    val tfk = tf.join(broadcast(dfreq), "term")
      .withColumn("__one", pmod(xxhash64(col(idCol)), lit(1)))
    val nk = nRel.withColumn("__one", pmod(xxhash64(col("__n")), lit(1)))
    tfk.join(broadcast(nk), "__one")
      .withColumn("w",
        col("tf") * expr(s"((__n + 1) * ${scale}L) div (df + 1)"))
      .groupBy(col(idCol))
      .agg(sum(col("w")).as("score"))
  }

  /** Top-k most relevant documents: [[tfidfScores]] + global top-k
    * (TakeOrderedAndProject — per-partition heaps, never a full sort),
    * deterministic tiebreak on id.
    */
  def search(docs: DataFrame, text: Column, idCol: String,
      queryTerms: Seq[String], k: Int): DataFrame =
    tfidfScores(docs, text, idCol, queryTerms)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)

  /** BM25 scores in EXACT rational arithmetic. With k1 = 6/5 and b = 3/4
    * (the standard 1.2 / 0.75 as rationals) and avgdl = T/N (T = corpus
    * token count, N = doc count), the tf-saturation term reduces to a pure
    * integer ratio:
    *
    *   tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))  =  44·T·tf / (20·T·tf + 6·T + 18·dl·N)
    *
    * so each per-term weight is
    * `idf_fx · ((44·T·tf·scale) div (20·T·tf + 6·T + 18·dl·N)) div scale`
    * with the same div-based fixed-point idf as [[tfidfScores]] — every
    * intermediate is an exact BIGINT (both engines truncate positive
    * division identically), no libm `ln`, no float summation order.
    *
    * Scale design mirrors [[tfidfScores]]: the explode is term-filtered
    * before any shuffle; `dl` (per-doc token length) is a map-only
    * projection joined on the doc id (the natural shuffle key); the 1-row
    * (T, N) totals attach via a constant-key broadcast hash join.
    *
    * Overflow bounds at the default scale 10⁶ (exact, from 2⁶³):
    * `44·T·tf·scale` requires T·tf < 2.1·10¹¹ (T = corpus tokens, tf =
    * a doc's per-term count), and `idf_fx·sat` requires N ≲ 8·10⁶ docs.
    * Each 10× reduction of `scale` relaxes both bounds 10× at the cost
    * of one digit of ranking resolution — at web scale run scale=10³ or
    * lower, or cap tf. Spark's non-ANSI arithmetic would wrap silently,
    * so mind the bound, not just the result.
    */
  def bm25Scores(docs: DataFrame, text: Column, idCol: String,
      queryTerms: Seq[String], scale: Long = DefaultScale): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val base = docs.select(col(idCol), TextAnalysis.tokens(text).as("__toks"))
    val ex = base
      .select(col(idCol), explode(col("__toks")).as("term"))
      .filter(col("term").isInCollection(queryTerms))
    val tf = ex.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = base.select(col(idCol), size(col("__toks")).cast("long").as("dl"))
    val tot = dl.agg(sum(col("dl")).as("__t"), count(lit(1)).as("__n"))
    val tfk = tf.join(broadcast(dfreq), "term")
      .join(dl, idCol)
      .withColumn("__one", pmod(xxhash64(col(idCol)), lit(1)))
    val totk = tot.withColumn("__one", pmod(xxhash64(col("__t")), lit(1)))
    tfk.join(broadcast(totk), "__one")
      .withColumn("sat", expr(
        s"(44L * __t * tf * ${scale}L) div (20L * __t * tf + 6L * __t + 18L * dl * __n)"))
      .withColumn("w", expr(
        s"((((__n + 1) * ${scale}L) div (df + 1)) * sat) div ${scale}L"))
      .groupBy(col(idCol))
      .agg(sum(col("w")).as("score"))
  }

  /** Top-k BM25 retrieval: [[bm25Scores]] + TakeOrderedAndProject top-k,
    * deterministic tiebreak on id.
    */
  def searchBm25(docs: DataFrame, text: Column, idCol: String,
      queryTerms: Seq[String], k: Int): DataFrame =
    bm25Scores(docs, text, idCol, queryTerms)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)

  /** Persist an INVERTED INDEX for keyword retrieval — the Lucene-shape
    * artifact as warehouse tables, the retrieval twin of the stored dedup
    * signatures / IVF postings: `<name>_postings` ((term, doc, tf),
    * BUCKETED on `term` so a query's term filter prunes straight to its
    * buckets and the df aggregate needs no shuffle), `<name>_lengths`
    * ((doc, dl), bucketed on the doc id for the BM25 length join), and the
    * 1-row `<name>_totals` (tt, n). Per-term document frequency is NOT
    * stored — it's a tiny aggregate over the term-filtered postings at
    * query time, which keeps index maintenance APPEND-ONLY (a stored df
    * column would need read-modify-write per batch): nightly ingest =
    * append new docs' postings/lengths and rewrite the 1-row totals.
    */
  def writeTextIndex(docs: DataFrame, text: Column, idCol: String,
      warehouseDir: String, name: String, numBuckets: Int): Unit = {
    val base = docs.select(col(idCol), TextAnalysis.tokens(text).as("__toks"))
    val postings = base
      .select(col(idCol), explode(col("__toks")).as("term"))
      .groupBy(col("term"), col(idCol)).agg(count(lit(1)).as("tf"))
    graft.io.Tables.writeWarehouseBucketed(postings, warehouseDir,
      s"${name}_postings", "term", numBuckets)
    val lengths = base.select(col(idCol), size(col("__toks")).cast("long").as("dl"))
    graft.io.Tables.writeWarehouseBucketed(lengths, warehouseDir,
      s"${name}_lengths", idCol, numBuckets)
    val totals = lengths.agg(sum(col("dl")).as("tt"), count(lit(1)).as("n"))
    graft.io.Tables.writeWarehouseBucketed(totals, warehouseDir,
      s"${name}_totals", "n", 1)
    graft.io.Tables.writeWarehouseBucketed(
      ingestStats(base, idCol, "base"), warehouseDir, s"${name}_stats",
      "phase", 1)
  }

  /** One ingest event's summary row for the index drift ledger:
    * (phase, n_docs, sum_dl, n_postings) — all integers, one small agg
    * over the batch's own tokenized frame (O(batch), zero index scans;
    * the text twin of [[Similarity]]'s `centroidBatchStats`).
    */
  private def ingestStats(base: DataFrame, idCol: String,
      phase: String): DataFrame =
    base.select(col(idCol), col("__toks"))
      .withColumn("__nt", size(array_distinct(col("__toks"))).cast("long"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("__toks")).cast("long")).as("sum_dl"),
        sum(col("__nt")).as("n_postings"))
      .withColumn("phase", lit(phase))
      .select("phase", "n_docs", "sum_dl", "n_postings")

  /** Index maintenance: append NEW documents' postings and lengths (both
    * keep their bucket layout via append-mode `saveAsTable`) and rewrite
    * the 1-row totals. Because df is computed at query time, this is the
    * whole nightly job — O(batch) map+agg work, no read-modify-write of
    * any per-term state. Append ≡ rebuild on the union corpus
    * (RelevanceSpec pins it); doc ids must be fresh (same contract as
    * every incremental path here).
    */
  def appendTextIndex(spark: org.apache.spark.sql.SparkSession, name: String,
      newDocs: DataFrame, text: Column, idCol: String,
      warehouseDir: String, numBuckets: Int): Unit = {
    val base = newDocs.select(col(idCol), TextAnalysis.tokens(text).as("__toks"))
    base.select(col(idCol), explode(col("__toks")).as("term"))
      .groupBy(col("term"), col(idCol)).agg(count(lit(1)).as("tf"))
      .write.mode("append")
      .bucketBy(numBuckets, "term").sortBy("term")
      .saveAsTable(s"${name}_postings")
    base.select(col(idCol), size(col("__toks")).cast("long").as("dl"))
      .write.mode("append")
      .bucketBy(numBuckets, idCol).sortBy(idCol)
      .saveAsTable(s"${name}_lengths")
    // totals stays 1 row: recompute from the appended lengths (a cheap
    // two-column scan) and overwrite through the catalog
    val totals = graft.io.Tables.readWarehouseBucketed(spark, s"${name}_lengths")
      .agg(sum(col("dl")).as("tt"), count(lit(1)).as("n"))
    graft.io.Tables.writeWarehouseBucketed(totals, warehouseDir,
      s"${name}_totals", "n", 1)
    ingestStats(base, idCol, "append")
      .write.mode("append").bucketBy(1, "phase").sortBy("phase")
      .saveAsTable(s"${name}_stats")
  }

  /** REPLAY-SAFE [[appendTextIndex]] — the streaming-ingest form
    * ([[graft.streaming.StreamingIngest.indexTextBatch]]). `foreachBatch`
    * is at-least-once, and unlike the dedup state (where replayed
    * duplicate rows are semantically inert) a duplicated posting DOUBLES
    * a term's tf and a duplicated length row corrupts dl and the totals —
    * so each relation guards its own append with an anti-join against the
    * doc ids it already holds. A replay then re-appends exactly the rows
    * whose write did not complete, never a second copy: per-document
    * exactly-once from an at-least-once trigger, with no transaction log.
    * Cost of the two guards: the lengths probe is a co-located anti-join
    * on the id-bucketed lengths table (zero shuffle on the state side);
    * the postings probe is one column-pruned scan of the postings id
    * column — O(index) per batch, the price of idempotence on a plain
    * bucketed-parquet index (an ACID table format would pay a log lookup
    * instead). The totals rewrite is a recompute-from-lengths, idempotent
    * by construction.
    */
  def appendTextIndexSafe(spark: org.apache.spark.sql.SparkSession,
      name: String, newDocs: DataFrame, text: Column, idCol: String,
      warehouseDir: String, numBuckets: Int): Unit = {
    // Every state READ below runs on the batch frame's OWN session: under
    // foreachBatch that is the micro-batch clone whose relation cache the
    // appends refresh — a read through the outer session would race its
    // stale file listing against the clone's writes (the dedupBatch
    // lesson, from the other side).
    val ss = newDocs.sparkSession
    // tokenized once, eagerly: both guarded appends consume it, and the
    // second must not observe a re-tokenization racing its own state write
    val base = newDocs.select(col(idCol), TextAnalysis.tokens(text).as("__toks"))
      .localCheckpoint(true)
    val committedP = graft.io.Tables
      .readWarehouseBucketed(ss, s"${name}_postings")
      .select(col(idCol)).distinct()
    base.join(committedP, Seq(idCol), "left_anti")
      .select(col(idCol), explode(col("__toks")).as("term"))
      .groupBy(col("term"), col(idCol)).agg(count(lit(1)).as("tf"))
      .write.mode("append")
      .bucketBy(numBuckets, "term").sortBy("term")
      .saveAsTable(s"${name}_postings")
    val committedL = graft.io.Tables
      .readWarehouseBucketed(ss, s"${name}_lengths")
      .select(col(idCol))
    // materialized BEFORE the lengths append — the same frame feeds the
    // drift-ledger row below, and a lazy anti-join would re-evaluate
    // against the just-appended state and come back empty
    val freshL = base.join(committedL, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    freshL
      .select(col(idCol), size(col("__toks")).cast("long").as("dl"))
      .write.mode("append")
      .bucketBy(numBuckets, idCol).sortBy(idCol)
      .saveAsTable(s"${name}_lengths")
    val totals = graft.io.Tables.readWarehouseBucketed(ss, s"${name}_lengths")
      .agg(sum(col("dl")).as("tt"), count(lit(1)).as("n"))
    graft.io.Tables.writeWarehouseBucketed(totals, warehouseDir,
      s"${name}_totals", "n", 1)
    // drift-ledger row for the docs ACTUALLY appended, written LAST and
    // skipped when empty: a full replay adds nothing, a crash just before
    // this point undercounts the ledger — monitoring tolerance on the
    // safe (earlier-rebuild) side, the same contract as the IVFPQ stats
    // append.
    if (!freshL.isEmpty)
      ingestStats(freshL, idCol, "append")
        .write.mode("append").bucketBy(1, "phase").sortBy("phase")
        .saveAsTable(s"${name}_stats")
  }

  /** Distribution-drift report for a stored text index — the inverted-
    * index twin of [[Similarity.ivfDriftStats]]. The per-ingest ledger
    * rows fold to one row per phase (base vs append): document counts,
    * total token mass, and posting (distinct-terms-per-doc) mass — all
    * exact integers, so the report itself is oracle-verifiable. What the
    * deltas mean for a frozen index layout:
    *  - GROWTH (`n_docs`): the bucket count and k1/b tuning were sized
    *    for the base corpus; appends eventually dwarf it (posting buckets
    *    overflow into small-file sprawl, df-based pruning degrades);
    *  - LENGTH drift (`sum_dl/n_docs`): BM25's length normalization was
    *    tuned against the base mean document length;
    *  - DENSITY drift (`n_postings/n_docs`): vocabulary-per-document
    *    shift (language mix, boilerplate, chunking change) — the direct
    *    signature of a distribution change in the posting lists.
    */
  def textDriftStats(spark: org.apache.spark.sql.SparkSession,
      name: String): DataFrame =
    graft.io.Tables.readWarehouseBucketed(spark, s"${name}_stats")
      .groupBy("phase")
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("sum_dl")).cast("long").as("sum_dl"),
        sum(col("n_postings")).cast("long").as("n_postings"))

  /** Rebuild trigger over [[textDriftStats]] — the documented threshold
    * policy, mirroring [[Similarity.needsRetrain]]: rebuild when appended
    * docs exceed `maxGrowth` × base, or the appended population's mean
    * document length or postings-per-doc drifts outside
    * [1/ratio, ratio] × the base mean. Driver-side over the ledger
    * (index metadata — two tiny rows), zero corpus or index scans.
    */
  def needsRebuild(spark: org.apache.spark.sql.SparkSession, name: String,
      maxGrowth: Double = 1.0, maxLenRatio: Double = 1.5,
      maxDensityRatio: Double = 1.5): Boolean = {
    val rows = textDriftStats(spark, name).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    (rows.get("base"), rows.get("append")) match {
      case (Some((nb, dlb, npb)), Some((na, dla, npa))) if nb > 0 && na > 0 =>
        def outside(base: Double, app: Double, ratio: Double) =
          base > 0.0 && (app > ratio * base || app < base / ratio)
        na > maxGrowth * nb ||
          outside(dlb.toDouble / nb, dla.toDouble / na, maxLenRatio) ||
          outside(npb.toDouble / nb, npa.toDouble / na, maxDensityRatio)
      case _ => false
    }
  }

  /** TF-IDF scores over a STORED index: the corpus text is scanned ZERO
    * times — the plan reads the term-filtered postings (bucket-pruned) and
    * the 1-row totals. Same fixed-point arithmetic as [[tfidfScores]], so
    * stored ≡ live bit-for-bit on the same corpus.
    */
  def tfidfScoresStored(spark: org.apache.spark.sql.SparkSession,
      name: String, idCol: String, queryTerms: Seq[String],
      scale: Long = DefaultScale): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val p = graft.io.Tables.readWarehouseBucketed(spark, s"${name}_postings")
      .filter(col("term").isInCollection(queryTerms))
    val dfreq = p.groupBy("term").agg(count(lit(1)).as("df"))
    val tot = graft.io.Tables.readWarehouseBucketed(spark, s"${name}_totals")
    val tfk = p.join(broadcast(dfreq), "term")
      .withColumn("__one", pmod(xxhash64(col(idCol)), lit(1)))
    val nk = tot.select(col("n").as("__n"))
      .withColumn("__one", pmod(xxhash64(col("__n")), lit(1)))
    tfk.join(broadcast(nk), "__one")
      .withColumn("w",
        col("tf") * expr(s"((__n + 1) * ${scale}L) div (df + 1)"))
      .groupBy(col(idCol))
      .agg(sum(col("w")).as("score"))
  }

  /** Top-k TF-IDF retrieval over the stored index. */
  def searchStored(spark: org.apache.spark.sql.SparkSession, name: String,
      idCol: String, queryTerms: Seq[String], k: Int): DataFrame =
    tfidfScoresStored(spark, name, idCol, queryTerms)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)

  /** BM25 scores over a STORED index — same exact rational arithmetic as
    * [[bm25Scores]], reading postings + lengths + totals only.
    */
  def bm25ScoresStored(spark: org.apache.spark.sql.SparkSession,
      name: String, idCol: String, queryTerms: Seq[String],
      scale: Long = DefaultScale): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val p = graft.io.Tables.readWarehouseBucketed(spark, s"${name}_postings")
      .filter(col("term").isInCollection(queryTerms))
    val dfreq = p.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = graft.io.Tables.readWarehouseBucketed(spark, s"${name}_lengths")
    val tot = graft.io.Tables.readWarehouseBucketed(spark, s"${name}_totals")
    val tfk = p.join(broadcast(dfreq), "term")
      .join(dl, idCol)
      .withColumn("__one", pmod(xxhash64(col(idCol)), lit(1)))
    val totk = tot.select(col("tt").as("__t"), col("n").as("__n"))
      .withColumn("__one", pmod(xxhash64(col("__t")), lit(1)))
    tfk.join(broadcast(totk), "__one")
      .withColumn("sat", expr(
        s"(44L * __t * tf * ${scale}L) div (20L * __t * tf + 6L * __t + 18L * dl * __n)"))
      .withColumn("w", expr(
        s"((((__n + 1) * ${scale}L) div (df + 1)) * sat) div ${scale}L"))
      .groupBy(col(idCol))
      .agg(sum(col("w")).as("score"))
  }

  /** Top-k BM25 retrieval over the stored index. */
  def searchBm25Stored(spark: org.apache.spark.sql.SparkSession, name: String,
      idCol: String, queryTerms: Seq[String], k: Int): DataFrame =
    bm25ScoresStored(spark, name, idCol, queryTerms)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)

  /** Per-document EXACT-PHRASE occurrence counts — the retrieval
    * predicate TF-IDF/BM25 bag-of-words scoring cannot express ("data
    * lake" ≠ data ∧ lake). One row per document containing the phrase,
    * with its occurrence count.
    *
    * Scale design: a ZERO-SHUFFLE codegen map — the phrase test is a
    * higher-order filter over each row's own token array (positions
    * 1..n−m+1, all m terms matched by index), so the corpus is scanned
    * once with no explode and nothing moves; only matching (id, count)
    * rows survive into whatever consumes them. The stored twin
    * [[phraseCountsStored]] answers the same query from a POSITIONAL
    * index without rescanning the corpus at all.
    */
  def phraseCounts(docs: DataFrame, text: Column, idCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.length >= 2, "phrase must have at least 2 terms")
    // the kernel transports the phrase as a space-joined literal and
    // re-splits on ' ' — a term carrying whitespace would silently
    // change semantics (the old HOF form could never match it; the
    // kernel would read it as extra phrase terms), and an empty term
    // would shift every position. Reject loudly instead.
    require(phrase.forall(t => t.nonEmpty && !t.exists(_.isWhitespace)),
      "phrase terms must be non-empty and whitespace-free")
    // One imperative pass per row (graft.functions.TextExpressions
    // .TextPhraseTf) instead of the interpreted higher-order lambda tree:
    // the HOF form re-walked the token array per position per term, and —
    // because this relation filters on the computed count — predicate
    // pushdown replayed that tree below any upstream repartition,
    // serializing the whole corpus pass onto the (possibly single-split)
    // scan task. Semantics are bit-identical (DedupSpec pins the twin).
    graft.functions.TextExpressions.register(docs.sparkSession)
    docs
      .select(col(idCol),
        call_function("text_phrase_tf", text,
          lit(phrase.mkString(" "))).as("phrase_tf"))
      .filter(col("phrase_tf") > 0)
  }

  /** Top-k phrase retrieval: [[phraseCounts]] + TakeOrderedAndProject
    * (occurrence count desc, id tiebreak).
    */
  def phraseSearch(docs: DataFrame, text: Column, idCol: String,
      phrase: Seq[String], k: Int): DataFrame =
    phraseCounts(docs, text, idCol, phrase)
      .orderBy(col("phrase_tf").desc, col(idCol).asc)
      .limit(k)

  /** Persist a POSITIONAL inverted index: `<name>_postings` =
    * (term, doc, pos) — one row per token OCCURRENCE with its 1-based
    * position, BUCKETED on `term` like [[writeTextIndex]]'s postings so a
    * phrase's term filters prune straight to their buckets. Positions are
    * what upgrade the index from bag-of-words scoring to phrase /
    * proximity queries (the Lucene `TermPositions` shape); maintenance is
    * append-only for fresh doc ids, same contract as every index here.
    */
  def writePositionalIndex(docs: DataFrame, text: Column, idCol: String,
      warehouseDir: String, name: String, numBuckets: Int): Unit = {
    val postings = docs
      .select(col(idCol), posexplode(TextAnalysis.tokens(text)).as(Seq("__p0", "term")))
      .select(col("term"), col(idCol), (col("__p0") + 1).cast("int").as("pos"))
    graft.io.Tables.writeWarehouseBucketed(postings, warehouseDir,
      s"${name}_postings", "term", numBuckets)
  }

  /** [[phraseCounts]] over the STORED positional index — the corpus text
    * is scanned ZERO times. Each phrase term selects its (bucket-pruned)
    * postings slice projected to (doc, pos − offset); m−1 shuffled
    * equi-joins on (doc, start) intersect the slices, so a surviving row
    * IS a phrase occurrence at `start` — postings are unique per
    * (term, doc, pos), so repeated phrase terms self-align without row
    * inflation. The shuffle carries (id, int) pairs of TERM-FILTERED
    * postings only, never corpus-sized relations; stored ≡ live
    * bit-for-bit on the same corpus (the declared queries share one
    * oracle).
    */
  def phraseCountsStored(spark: org.apache.spark.sql.SparkSession,
      name: String, idCol: String, phrase: Seq[String]): DataFrame = {
    require(phrase.length >= 2, "phrase must have at least 2 terms")
    val p = graft.io.Tables.readWarehouseBucketed(spark, s"${name}_postings")
    val slices = phrase.zipWithIndex.map { case (w, j) =>
      p.filter(col("term") === w)
        .select(col(idCol), (col("pos") - j).as("start"))
    }
    slices.reduce((a, b) => a.join(b, Seq(idCol, "start")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("phrase_tf"))
  }

  /** Top-k phrase retrieval over the stored positional index. */
  def phraseSearchStored(spark: org.apache.spark.sql.SparkSession,
      name: String, idCol: String, phrase: Seq[String], k: Int): DataFrame =
    phraseCountsStored(spark, name, idCol, phrase)
      .orderBy(col("phrase_tf").desc, col(idCol).asc)
      .limit(k)

  /** KEYWORD-side hard negatives (the text twin of
    * [[Similarity.hardNegatives]]): the documents ranked just below the
    * BM25 top-`skipTop` for a query — lexically close to the positives
    * but not them, the negatives that teach a retrieval/reranker model
    * fine distinctions. The rank window runs over the TakeOrdered-bounded
    * (skipTop+negK)-row pool only, never a corpus partition.
    */
  def hardNegativesBm25(docs: DataFrame, text: Column, idCol: String,
      queryTerms: Seq[String], skipTop: Int, negK: Int): DataFrame = {
    require(skipTop >= 0 && negK >= 1, "skipTop >= 0, negK >= 1")
    val pool = searchBm25(docs, text, idCol, queryTerms, skipTop + negK)
    val w = Window.orderBy(col("score").desc, col(idCol).asc)
    pool.withColumn("rank", row_number().over(w))
      .filter(col("rank") > skipTop)
      .select(col(idCol).as("negative_id"), col("score"),
        (col("rank") - skipTop).cast("int").as("neg_rank"))
  }

  /** END-TO-END RAG-ingestion retrieval: context-window chunking →
    * feature-hash chunk embeddings → integer-exact nearest chunks for a
    * query string — the chunk/embed/retrieve pipeline a retrieval-
    * augmented system runs at ingest, composed from the library's own
    * operators ([[TextAnalysis.chunkDocuments]], `text_hash_embed`,
    * `vec_l2sq_long`) with no pretrained model anywhere.
    *
    * Scale design: chunking and embedding are map-only; the ONE query row
    * (built from a one-row LocalRelation so its key expression is not
    * constant-foldable) attaches to every chunk via a constant-key
    * broadcast hash join — never a nested loop; ranking is squared-L2
    * ascending through TakeOrderedAndProject (per-partition heaps, no
    * global sort). All-integer distances → the oracle replays chunking,
    * embedding, and ranking exactly.
    */
  def chunkRetrieve(docs: DataFrame, textCol: String, idCol: String,
      queryText: String, chunkTokens: Int, overlap: Int, embedDim: Int,
      k: Int): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.TextExpressions.register(spark)
    graft.functions.VectorExpressions.register(spark)
    import spark.implicits._
    val chunks = TextAnalysis
      .chunkDocuments(docs, textCol, idCol, chunkTokens, overlap)
      .select(col(idCol), col("chunk_id"),
        call_function("text_hash_embed", col("chunk_text"), lit(embedDim))
          .as("cv"))
      .withColumn("__one", pmod(xxhash64(col(idCol)), lit(1)))
    val qdf = Seq(queryText).toDF("qtext")
      .select(col("qtext"),
        call_function("text_hash_embed", col("qtext"), lit(embedDim)).as("qv"))
      .withColumn("__one", pmod(xxhash64(col("qtext")), lit(1)))
      .drop("qtext")
    chunks.join(broadcast(qdf), Seq("__one"))
      .withColumn("dist", call_function("vec_l2sq_long", col("cv"), col("qv")))
      .select(col(idCol), col("chunk_id"), col("dist"))
      .orderBy(col("dist").asc, col(idCol).asc, col("chunk_id").asc)
      .limit(k)
  }

  /** HYBRID retrieval: BM25 keyword ranks fused with embedding-cosine
    * ranks by Reciprocal Rank Fusion, in fixed-point integer arithmetic —
    * `rrf(d) = Σ_side scale div (kRrf + rank_side(d))` over the sides
    * where d appears in the top-`pool`. Ranks (not raw scores) make the
    * fusion immune to cross-engine float ULP, and the integer RRF sum is
    * exact — the standard fusion (Cormack & Clarke k=60) made
    * oracle-verifiable.
    *
    * Scale design: each side reduces to its top-`pool` BEFORE ranking —
    * BM25 via TakeOrderedAndProject ([[searchBm25]]), the vector side via
    * a constant-key broadcast of the ONE query vector (the centroidFanout
    * pattern — no BroadcastNestedLoopJoin) + TakeOrderedAndProject — so
    * the ranking windows see ≤ pool rows, never a corpus partition. The
    * fuse is a full-outer join of two pool-sized relations.
    */
  /** Retrieval-quality EVALUATION: per-query exact counting stats for a
    * ranked result relation against a relevance (ground-truth) set — the
    * measurement half of the retrieval stack (searchTfIdf/searchBm25/
    * hybridTopK/ANN produce rankings; this scores them). Emits per query:
    * `n_rel` (relevant docs), `n_hits_at_k` (relevant among the top k)
    * and `first_hit_rank` (null if no relevant doc ranks ≤ k). All EXACT
    * integers — recall@k = n_hits_at_k / n_rel and MRR = avg
    * 1/first_hit_rank are one exact division away for the consumer, but
    * no float crosses this operator (so it hash-verifies; a float mean
    * would drift by accumulation order).
    *
    * Scale: every join and aggregate keys on (query, doc) or query; the
    * result relation is |queries|·k rows and truth is the relevance
    * set — both orders of magnitude below the corpus the rankings came
    * from. Queries with zero relevant docs don't appear (undefined
    * recall); queries with relevant docs but no hits appear with
    * n_hits_at_k = 0.
    */
  def evalRetrieval(results: DataFrame, truth: DataFrame, queryCol: String,
      docCol: String, rankCol: String, k: Int): DataFrame = {
    val rel = truth.select(col(queryCol), col(docCol)).distinct()
    val nRel = rel.groupBy(col(queryCol)).agg(count(lit(1)).as("n_rel"))
    val perQ = results.filter(col(rankCol) <= k)
      .join(rel, Seq(queryCol, docCol), "left_semi")
      .groupBy(col(queryCol)).agg(
        count(lit(1)).as("__hits"),
        min(col(rankCol)).cast("long").as("first_hit_rank"))
    nRel.join(perQ, Seq(queryCol), "left")
      .select(col(queryCol), col("n_rel"),
        coalesce(col("__hits"), lit(0L)).as("n_hits_at_k"),
        col("first_hit_rank"))
  }

  def hybridTopK(docs: DataFrame, text: Column, idCol: String,
      queryTerms: Seq[String],
      vectors: DataFrame, vecIdCol: String, vecCol: Column,
      queryVecId: Long, k: Int, pool: Int = 25, kRrf: Int = 60,
      scale: Long = DefaultScale): DataFrame = {
    graft.functions.VectorExpressions.register(docs.sparkSession)
    val wPool = Window.orderBy(col("score").desc, col(idCol).asc)
    val textRanks = searchBm25(docs, text, idCol, queryTerms, pool)
      .withColumn("rank", row_number().over(wPool))
      .select(col(idCol).as("__id"), col("rank").as("__rt"))

    val normed = vectors.select(col(vecIdCol),
      call_function("vec_normalize", vecCol).as("nv"))
    val qv = normed.filter(col(vecIdCol) === queryVecId)
      .select(col(vecIdCol).as("__qid"), col("nv").as("qnv"))
      .withColumn("__one", pmod(xxhash64(col("__qid")), lit(1)))
    val scored = normed
      .withColumn("__one", pmod(xxhash64(col(vecIdCol)), lit(1)))
      .join(broadcast(qv), Seq("__one"))
      .filter(col(vecIdCol) =!= col("__qid"))
      .withColumn("cos", call_function("vec_dot", col("nv"), col("qnv")))
      .orderBy(col("cos").desc, col(vecIdCol).asc)
      .limit(pool)
    val wVec = Window.orderBy(col("cos").desc, col(vecIdCol).asc)
    val vecRanks = scored.withColumn("rank", row_number().over(wVec))
      .select(col(vecIdCol).as("__id"), col("rank").as("__rv"))

    textRanks.join(vecRanks, Seq("__id"), "full_outer")
      .withColumn("rrf",
        coalesce(expr(s"${scale}L div ($kRrf + __rt)"), lit(0L)) +
          coalesce(expr(s"${scale}L div ($kRrf + __rv)"), lit(0L)))
      .orderBy(col("rrf").desc, col("__id").asc)
      .limit(k)
      .select(col("__id").as(idCol), col("rrf"))
  }
}
