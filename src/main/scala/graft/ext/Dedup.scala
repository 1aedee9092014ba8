package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Deduplication for training-data pipelines: exact, MinHash+LSH, SimHash,
  * and n-gram-Jaccard near-dup detection over the `documents` table.
  *
  * Scale design (100 TB):
  *  - Exact dedup is one hash-shuffle on the content key (not the payload):
  *    group by md5, keep min id — map-side partial agg applies.
  *  - MinHash/LSH never compares all pairs. Shingles explode → per-doc
  *    signatures (one shuffle keyed by doc), band keys → candidate pairs only
  *    inside identical-band buckets (shuffle keyed by band hash). Cost is
  *    O(docs × shingles) + O(bucket² per band bucket), never O(docs²).
  *  - SimHash blocks on signature bands the same way (pigeonhole: hamming
  *    distance ≤ d ⇒ at least one of d+1 bands identical).
  *  - All hashes are md5-derived ([[Hashing]]) so the DuckDB oracle verifies
  *    signatures and pairs bit-for-bit.
  *
  * Cache ownership: builders `.cache()` subtrees they consume more than
  * once (signatures, survivor sets). The returned DataFrames stay lazy, so
  * the caches cannot be dropped here — CALLERS OWN CLEANUP: after the
  * final action, `spark.sharedState.cacheManager.clearCache()` (what
  * Bench/Verify do between queries) or `unpersist()` on retained handles.
  */
object Dedup {

  /** Exact dedup on a content expression: exactly one survivor per distinct
    * content value, deterministic winner = min of `idCol`. The groupBy runs
    * on the md5 of the content, so the shuffle carries a 32-char key + id,
    * not document payloads; survivors are recovered by a semi-join on id.
    */
  def exactDedup(df: DataFrame, content: Column, idCol: String): DataFrame = {
    val winners = df
      .select(col(idCol), md5(content).as("__h"))
      .groupBy(col("__h"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(winners, Seq(idCol), "left_semi")
  }

  /** Word n-gram shingles over a token array (empty-safe: short docs yield
    * the whole-doc shingle).
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array(concat_ws(" ", toks)))

  /** (id, shingle) pairs, distinct per doc — the input to MinHash and to the
    * exact-Jaccard join. Uses the native `text_shingles` expression
    * ([[graft.functions.TextExpressions]]) — one imperative pass per row,
    * semantics pinned to the declarative
    * `array_distinct(shingles(tokens(text), n))` twin by DedupSpec.
    */
  def explodedShingles(df: DataFrame, text: Column, idCol: String, n: Int): DataFrame = {
    graft.functions.TextExpressions.register(df.sparkSession)
    df.select(col(idCol),
      explode(call_function("text_shingles", text, lit(n))).as("shingle"))
  }

  /** Universal-hash family for MinHash: h_i(x) = (a_i·h(x) + b_i) mod p over
    * a 30-bit md5-derived base hash. One md5 per shingle instead of k —
    * measured ~3× faster signature pass — and the multiply-mod arithmetic
    * is exactly reproducible in the DuckDB oracle (no Long overflow:
    * a < 2^30, h < 2^30 ⇒ a·h + b < 2^60).
    */
  val MinhashPrime = 1000000007L
  val MinhashMask = 0x3FFFFFFFL
  val MinhashA: Seq[Long] = Seq(
    472882049L, 741103597L, 379087739L, 673278317L,
    919796119L, 541353089L, 176537189L, 810269273L)
  val MinhashB: Seq[Long] = Seq(
    86028157L, 236887699L, 633910111L, 104395301L,
    15485867L, 512927377L, 779411L, 323780189L)

  /** MinHash signatures: k universal-hash mins over the doc's shingle set.
    * One aggregation keyed by doc id; k mins computed in the same pass
    * (single shuffle, map-side combine).
    */
  def minhashSignatures(df: DataFrame, text: Column, idCol: String,
      numHashes: Int, shingleSize: Int): DataFrame = {
    require(numHashes <= MinhashA.size, s"at most ${MinhashA.size} hash functions")
    val ex = explodedShingles(df, text, idCol, shingleSize)
      .withColumn("h", Hashing.md5Long(col("shingle")).bitwiseAND(lit(MinhashMask)))
    val mins = (0 until numHashes).map(i =>
      min((col("h") * MinhashA(i) + MinhashB(i)) % MinhashPrime).as(s"mh$i"))
    ex.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** Buckets above `maxBucketSize`, dropped from candidate generation by
    * the banded pair joins when a cap is set — the audit relation for the
    * hot-bucket guard. A degenerate corpus (boilerplate-heavy web text)
    * concentrates a constant fraction of docs into one band bucket, and
    * the bucket self-join is O(bucket²): 1% of 100 M docs in one bucket is
    * 10¹² pairs per band. Capping trades recall ONLY on pathological
    * buckets (a bucket that large is boilerplate, not near-duplication);
    * this relation reports exactly what was sacrificed.
    */
  private def hotBuckets(buckets: DataFrame, maxBucketSize: Int): DataFrame =
    buckets.groupBy("bk").agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucketSize)

  /** Drop rows of `buckets` that fall in a bucket larger than the cap
    * (no-op when the cap is `Int.MaxValue`). One extra small shuffle on the
    * bucket key — the same key the pair join shuffles on anyway. The
    * hot-bucket relation is pigeonhole-bounded at totalBucketRows /
    * maxBucketSize keys (e.g. 10¹⁰ banded rows / cap 10⁴ → ≤ 10⁶ rows) —
    * small for production caps, but LINEAR in corpus size for a fixed cap,
    * so there is deliberately NO broadcast hint: AQE broadcasts the anti-
    * join build side when it MEASURES small and falls back to a shuffled
    * join on `bk` (the key both sides already hash by) when it is not.
    */
  private def capBuckets(buckets: DataFrame, maxBucketSize: Int): DataFrame =
    if (maxBucketSize == Int.MaxValue) buckets
    else buckets.join(
      hotBuckets(buckets, maxBucketSize).select("bk"),
      Seq("bk"), "left_anti")

  /** The banded bucket keys of a signature row: one (band, md5-of-slice)
    * struct per band — the single definition behind candidate generation,
    * cross pairs, and the hot-bucket audit.
    */
  private def bandKeys(numHashes: Int, bands: Int): Seq[Column] = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    (0 until bands).map { b =>
      val slice = (0 until rows).map(r => col(s"mh${b * rows + r}"))
      struct(lit(b).as("band"),
        Hashing.md5Long(concat_ws(",", slice.map(_.cast("string")): _*)).as("bh"))
    }
  }

  /** LSH candidate pairs from banded signatures: docs sharing any band's
    * full signature slice become a candidate pair. `numHashes = bands × rows`.
    * Emits (idA < idB) pairs with the signature-estimated Jaccard
    * (fraction of agreeing hash functions). `maxBucketSize` caps the
    * per-band bucket self-join (see [[lshHotBuckets]]); the default leaves
    * recall untouched.
    */
  def lshCandidatePairs(sig: DataFrame, idCol: String,
      numHashes: Int, bands: Int,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    // the signature relation feeds THREE subtrees (band buckets + both
    // sides of the est-jaccard attach); without persistence the whole
    // upstream signature pass (tokenize → shingle → md5 → k-min agg, the
    // most CPU-expensive stage of every LSH pipeline) runs three times —
    // measured 3× the signature taskTime on the uncached callers
    // (q_canonical_docs, q_pagerank, q_bfs_hops, ccPairs). The relation
    // is (id, k longs) — corpus-row count but a few dozen bytes per row.
    // NOTE: localCheckpoint materializes RDD blocks OUTSIDE the cache
    // manager, so a caller that already persisted the same plan would
    // hold TWO executor-memory copies — callers with a materialized
    // signature relation use [[lshCandidatePairsOn]] instead.
    lshCandidatePairsOn(sig.localCheckpoint(true), idCol, numHashes,
      bands, maxBucketSize)
  }

  /** [[lshCandidatePairs]] over an ALREADY-MATERIALIZED (checkpointed /
    * cached / warehouse-backed) signature relation — no persistence of
    * its own, so callers that manage the relation's lifecycle don't pay
    * a second executor-memory copy.
    */
  private[graft] def lshCandidatePairsOn(s: DataFrame, idCol: String,
      numHashes: Int, bands: Int,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val buckets = capBuckets(
      s.select(col(idCol),
        explode(array(bandKeys(numHashes, bands): _*)).as("bk")),
      maxBucketSize)
    val a = buckets.select(col("bk"), col(idCol).as("id_a"))
    val b = buckets.select(col("bk"), col(idCol).as("id_b"))
    val pairs = a.join(b, Seq("bk")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    attachEstJaccard(pairs, s, s, idCol, numHashes)
  }

  /** Re-attach both sides' signatures to a bare (id_a, id_b) candidate
    * relation and score the estimated Jaccard (fraction of agreeing hash
    * functions) — shared tail of the symmetric and asymmetric pair paths.
    */
  private def attachEstJaccard(pairs: DataFrame, sigA: DataFrame,
      sigB: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val sa = sigA.select((col(idCol).as("id_a") +:
      (0 until numHashes).map(i => col(s"mh$i").as(s"a$i"))): _*)
    val sb = sigB.select((col(idCol).as("id_b") +:
      (0 until numHashes).map(i => col(s"mh$i").as(s"b$i"))): _*)
    val agree = (0 until numHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(sa, "id_a").join(sb, "id_b")
      .withColumn("est_jaccard", agree.cast("double") / lit(numHashes))
      .select("id_a", "id_b", "est_jaccard")
  }

  /** EDIT-DISTANCE-verified near-dup pairs: banded-LSH candidate
    * generation ([[lshCandidatePairs]] — never all-pairs) followed by an
    * EXACT Levenshtein verify, the confirm stage fuzzy record-linkage
    * pipelines run where estimated Jaccard is not evidence enough.
    *
    * Scale design: the O(L²) DP never touches non-candidates; candidates
    * first pass the free `|len_a − len_b| ≤ maxDist` lower bound (edit
    * distance is at least the length difference, so this drops nothing),
    * and the surviving pairs run Spark's THRESHOLD form of `levenshtein`,
    * whose banded DP is O(L·maxDist) and early-exits past the bound —
    * not O(L²). The text column is shuffled only onto candidate ids.
    * Distances are codepoint-based (exact and engine-independent on
    * ASCII; DuckDB's byte-based `levenshtein` diverges on multi-byte
    * text, so the oracle pins semantics on the ASCII slice).
    */
  def editVerifiedPairs(docs: DataFrame, text: Column, idCol: String,
      numHashes: Int, bands: Int, shingleSize: Int, maxDist: Int): DataFrame = {
    val sig = minhashSignatures(docs, text, idCol, numHashes, shingleSize)
    val cand = lshCandidatePairs(sig, idCol, numHashes, bands)
      .select("id_a", "id_b")
    val sides = docs.select(col(idCol).as("__graft_id"),
      text.as("__graft_txt"), length(text).as("__graft_len"))
    cand
      .join(sides.select(col("__graft_id").as("id_a"),
        col("__graft_txt").as("__ta"), col("__graft_len").as("__la")), Seq("id_a"))
      .join(sides.select(col("__graft_id").as("id_b"),
        col("__graft_txt").as("__tb"), col("__graft_len").as("__lb")), Seq("id_b"))
      .filter(abs(col("__la") - col("__lb")) <= maxDist)
      .withColumn("edit_dist",
        levenshtein(col("__ta"), col("__tb"), maxDist).cast("long"))
      .filter(col("edit_dist") >= 0)
      .select(col("id_a"), col("id_b"), col("edit_dist"))
  }

  /** Asymmetric LSH candidates between two signature relations: (id_a from
    * `sigA`) × (id_b from `sigB`) pairs sharing any band bucket — the
    * batch-vs-corpus shape, which NEVER self-joins the big side. Shuffle
    * is keyed by band hash; `maxBucketSize` caps both sides' buckets (the
    * corpus side is where boilerplate buckets explode).
    */
  def lshCrossPairs(sigA: DataFrame, sigB: DataFrame, idCol: String,
      numHashes: Int, bands: Int,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    // each side feeds two subtrees (its band buckets + its est-jaccard
    // attach side), but this function must NOT persist them itself: the
    // stored-state callers pass BUCKETED WAREHOUSE TABLES here, whose two
    // co-located scans are cheaper than materializing a corpus-rows
    // relation into executor storage (and whose table identity the
    // stored-path plan contract asserts on). LIVE callers that derive a
    // side persist it before passing ([[incrementalDedup]]).
    def bucketed(sig: DataFrame, as: String): DataFrame =
      capBuckets(
        sig.select(col(idCol).as(as),
          explode(array(bandKeys(numHashes, bands): _*)).as("bk")),
        maxBucketSize)
    val pairs = bucketed(sigA, "id_a").join(bucketed(sigB, "id_b"), Seq("bk"))
      .select("id_a", "id_b").distinct()
    attachEstJaccard(pairs, sigA, sigB, idCol, numHashes)
  }

  /** Incremental dedup — the production ingestion shape: clean a NEW
    * `batch` against an already-deduplicated `corpus` without ever
    * self-joining the corpus. Stages:
    *  1. within-batch exact dedup (min-id survivor);
    *  2. exact anti-join against the corpus — the corpus side reduces to
    *     its distinct md5 relation (32-char keys, not payloads);
    *  3. within-batch LSH near-dup (min-id wins);
    *  4. asymmetric batch×corpus LSH ([[lshCrossPairs]]): a batch doc
    *     estimated ≥ threshold against ANY corpus doc is dropped.
    * Cost is O(batch·shingles + corpus·shingles) map work plus band-keyed
    * joins — the corpus is scanned, hashed, and banded, but never paired
    * with itself. (At warehouse scale the corpus signature/band relations
    * would be precomputed once and stored; recomputation here keeps the
    * operator self-contained.)
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, text: Column,
      idCol: String, numHashes: Int, bands: Int, shingleSize: Int,
      estJaccardThreshold: Double): DataFrame =
    incrementalDedupFrom(
      corpus.select(md5(text).as("text_md5")).distinct(),
      // the live-derived corpus signatures feed both cross-pair subtrees
      // (band buckets + est-jaccard attach); materialize once so the
      // corpus tokenize/shingle/hash pass does not run twice. The stored
      // form passes a bucketed table instead — no materialization there.
      minhashSignatures(corpus, text, idCol, numHashes, shingleSize)
        .localCheckpoint(true),
      batch, text, idCol, numHashes, bands, shingleSize, estJaccardThreshold)

  /** [[incrementalDedup]] against PRECOMPUTED corpus state: a distinct
    * `text_md5` relation and a MinHash signature relation. This is the
    * O(batch)-per-night shape — the corpus is never scanned, hashed, or
    * shingled here; both relations come from the warehouse
    * ([[writeDedupState]]) where they were computed exactly once.
    */
  def incrementalDedupFrom(corpusHashes: DataFrame, corpusSig: DataFrame,
      batch: DataFrame, text: Column, idCol: String,
      numHashes: Int, bands: Int, shingleSize: Int,
      estJaccardThreshold: Double,
      corpusBloom: Option[DataFrame] = None): DataFrame = {
    val bExact = exactDedup(batch, text, idCol)
    val hashed = bExact.withColumn("text_md5", md5(text))
    // exact stage: with a stored corpus bloom, definite-miss batch rows
    // (the bulk of a fresh nightly batch) skip the shuffled anti-join —
    // only possible-hits confirm against the hash relation. Identical
    // output either way (the bloom has no false negatives).
    val bFresh = (corpusBloom match {
      case Some(bl) => BloomJoin.bloomAntiJoin(hashed, col("text_md5"),
        corpusHashes.select("text_md5"), col("text_md5"),
        prebuiltBloom = Some(bl))
      case None => hashed
        .join(corpusHashes.select("text_md5"), Seq("text_md5"), "left_anti")
    }).drop("text_md5")
      .cache()
    // ONE materialization of the batch signatures, consumed by the
    // internal-pair subtrees AND both lshCrossPairs subtrees (the r13
    // form cached here and then checkpointed again inside
    // lshCandidatePairs — two executor-memory copies of the same rows)
    val bSig = minhashSignatures(bFresh, text, idCol, numHashes, shingleSize)
      .localCheckpoint(true)
    val internalLosers = lshCandidatePairsOn(bSig, idCol, numHashes, bands)
      .filter(col("est_jaccard") >= estJaccardThreshold)
      .select(col("id_b").as(idCol))
    val crossLosers = lshCrossPairs(bSig, corpusSig, idCol, numHashes, bands)
      .filter(col("est_jaccard") >= estJaccardThreshold)
      .select(col("id_a").as(idCol))
    bFresh.join(internalLosers.unionAll(crossLosers).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Persist the corpus's dedup state to the warehouse as two BUCKETED
    * tables — `{name}_hashes` (distinct `text_md5`, bucketed on it: the
    * exact anti-join key) and `{name}_sigs` (MinHash signatures, bucketed
    * on `idCol`: the key the est-Jaccard verify re-attaches on) — so every
    * nightly [[incrementalDedupStored]] run reads pre-shuffled state
    * instead of re-scanning and re-hashing the corpus. After a batch is
    * accepted, append its survivors' hashes/signatures to the same tables
    * (the relations are unions, so incremental maintenance is append-only).
    */
  def writeDedupState(corpus: DataFrame, text: Column, idCol: String,
      numHashes: Int, shingleSize: Int,
      warehouseDir: String, name: String, numBuckets: Int): Unit = {
    val spark = corpus.sparkSession
    graft.io.Tables.writeWarehouseBucketed(
      corpus.select(md5(text).as("text_md5")).distinct(),
      warehouseDir, s"${name}_hashes", "text_md5", numBuckets)
    graft.io.Tables.writeWarehouseBucketed(
      minhashSignatures(corpus, text, idCol, numHashes, shingleSize),
      warehouseDir, s"${name}_sigs", idCol, numBuckets)
    // third state relation: the hash set's bloom bitset (1 row), sized off
    // the just-written relation (cheap column-pruned scan) with
    // [[BloomHeadroomFactor]]× capacity headroom, plus the occupancy
    // ledger (n_keys, sized_for) that lets appends know when the design
    // FPR is about to be crossed. Nightly runs read the bitset instead of
    // shuffling the whole hash relation into the exact anti-join — see
    // incrementalDedupStoredBloom.
    val stored = graft.io.Tables.readWarehouseBucketed(spark, s"${name}_hashes")
    writeBloomState(spark, warehouseDir, name,
      stored.select("text_md5"), stored.count())
  }

  /** Capacity headroom for the dedup-state bloom: the bitset is sized for
    * `factor × keys` so appends have room before a rebuild. 2× means each
    * rebuild doubles capacity — amortized O(1) rebuild cost per appended
    * key, the textbook growth schedule — and until occupancy reaches the
    * sized capacity the actual FPR sits BELOW the design point.
    */
  val BloomHeadroomFactor = 2L

  private def writeBloomState(spark: org.apache.spark.sql.SparkSession,
      warehouseDir: String, name: String, keys: DataFrame,
      nKeys: Long): Unit = {
    val sizedFor = math.max(BloomHeadroomFactor * nKeys, 1024L)
    val bits = graft.functions.BloomExpressions.bitsFor(sizedFor)
    // _bloom stays the FIRST column: probe paths select it alone
    BloomJoin.keySetBloom(keys, col(keys.columns.head), bits)
      .select(col("_bloom"), lit(nKeys).as("n_keys"),
        lit(sizedFor).as("sized_for"))
      .write.mode("overwrite")
      .option("path", s"$warehouseDir/${name}_bloom")
      .saveAsTable(s"${name}_bloom")
  }

  /** Nightly-ingest entry point over [[writeDedupState]] output: cost is
    * O(batch·shingles) map work + band joins against the stored signature
    * relation — zero corpus scans (`IncrementalStoredSpec` pins that the
    * plan reads only the two warehouse tables).
    */
  def incrementalDedupStored(spark: org.apache.spark.sql.SparkSession,
      name: String, batch: DataFrame, text: Column, idCol: String,
      numHashes: Int, bands: Int, shingleSize: Int,
      estJaccardThreshold: Double): DataFrame =
    incrementalDedupFrom(
      graft.io.Tables.readWarehouseBucketed(spark, s"${name}_hashes"),
      graft.io.Tables.readWarehouseBucketed(spark, s"${name}_sigs"),
      batch, text, idCol, numHashes, bands, shingleSize, estJaccardThreshold)

  /** Append maintenance for the `{name}_bloom` state relation: OR a
    * batch's key bitset into the stored one — or REBUILD at doubled
    * capacity when the append would push occupancy past the width the
    * bitset was sized for. Blooms over the same (m, k) compose —
    * bloom(A) | bloom(B) == bloom(A ∪ B) bit-for-bit — so append-only
    * state stays exact w.r.t. a full rebuild; but at FIXED width the
    * false-positive rate rises with every appended key, and after the
    * corpus grows a few × past its sizing the routing benefit quietly
    * decays (correctness never suffers — the confirm join catches FPs —
    * the optimization does). The stored (n_keys, sized_for) ledger makes
    * the decay visible and bounds it: once `n_keys + batch > sized_for`,
    * the bitset is rebuilt from the FULL key set (stored `{name}_hashes`
    * ∪ the batch — correct whether the caller appends hashes before or
    * after this call) at [[BloomHeadroomFactor]]× capacity, so occupancy
    * never exceeds the design point and the amortized rebuild cost per
    * key is O(1). `n_keys` may overcount when a batch overlaps stored
    * keys (or a foreachBatch replay re-ORs a batch) — the error only
    * hastens a rebuild, which re-measures exactly; never FPR decay.
    *
    * The OR runs driver-side: the bitset is metadata-scale (MBs), like
    * the watermark state. Callers appending to `{name}_hashes` (the
    * streaming sink, nightly accept) MUST call this too, or the stored
    * bloom develops false negatives for the appended keys and
    * [[incrementalDedupStoredBloom]] silently under-dedups.
    */
  def appendDedupBloom(spark: org.apache.spark.sql.SparkSession,
      warehouseDir: String, name: String, newHashes: DataFrame): Unit = {
    val table = s"${name}_bloom"
    val st = spark.table(table)
      .select(col("_bloom"), col("n_keys"), col("sized_for")).head()
    val (prev, nKeys, sizedFor) =
      (st.getAs[Array[Byte]](0), st.getLong(1), st.getLong(2))
    val batchKeys = newHashes.select(col("text_md5")).distinct()
    val batchN = batchKeys.count()
    if (nKeys + batchN <= sizedFor) {
      val add = BloomJoin.keySetBloom(batchKeys, col("text_md5"),
        prev.length.toLong * 8L).head().getAs[Array[Byte]](0)
      val merged = prev.zip(add).map { case (a, b) => (a | b).toByte }
      import spark.implicits._
      Seq(Tuple1(merged)).toDF("_bloom")
        .select(col("_bloom"), lit(nKeys + batchN).as("n_keys"),
          lit(sizedFor).as("sized_for"))
        .write.mode("overwrite")
        .option("path", s"$warehouseDir/$table")
        .saveAsTable(table)
    } else {
      val all = graft.io.Tables
        .readWarehouseBucketed(spark, s"${name}_hashes")
        .select("text_md5")
        .unionAll(batchKeys).distinct()
      writeBloomState(spark, warehouseDir, name, all, all.count())
    }
  }

  /** [[incrementalDedupStored]] with the exact stage bloom-prefiltered:
    * reads the third state relation ([[writeDedupState]]'s `{name}_bloom`
    * bitset) and routes definite-miss batch rows — the bulk of a fresh
    * nightly batch — straight past the shuffled hash anti-join. Same
    * output bit-for-bit (same oracle as both other incremental forms).
    */
  def incrementalDedupStoredBloom(spark: org.apache.spark.sql.SparkSession,
      name: String, batch: DataFrame, text: Column, idCol: String,
      numHashes: Int, bands: Int, shingleSize: Int,
      estJaccardThreshold: Double): DataFrame =
    incrementalDedupFrom(
      graft.io.Tables.readWarehouseBucketed(spark, s"${name}_hashes"),
      graft.io.Tables.readWarehouseBucketed(spark, s"${name}_sigs"),
      batch, text, idCol, numHashes, bands, shingleSize, estJaccardThreshold,
      // the probe wants the bitset alone, not the occupancy ledger
      corpusBloom = Some(spark.table(s"${name}_bloom").select("_bloom")))

  /** Audit twin of the [[lshCandidatePairs]] cap: the (band, bucket-hash,
    * size) rows that a `maxBucketSize` cap would drop. Run it alongside a
    * capped dedup to quantify (and log) the sacrificed buckets.
    */
  def lshHotBuckets(sig: DataFrame, idCol: String, numHashes: Int,
      bands: Int, maxBucketSize: Int): DataFrame =
    hotBuckets(
      sig.select(col(idCol),
        explode(array(bandKeys(numHashes, bands): _*)).as("bk")),
      maxBucketSize)
      .select(col("bk.band").as("band"), col("bk.bh").as("bucket_hash"),
        col("bucket_size"))

  /** Exact n-gram Jaccard with PPJoin-style prefix filtering.
    *
    * The naive inverted-index self-join is quadratic in hot-shingle bucket
    * size (measured 89 s at sf0.1 on this corpus's skewed shingles). Prefix
    * filtering is the sound fix: order every doc's shingles by global
    * rarity (freq asc, shingle asc); J(A,B) ≥ t implies |A∩B| ≥ t·|A|, so
    * the pair must share a shingle among A's first |A|−⌈t·|A|⌉+1 rarest
    * shingles (prefix-filtering principle, Chaudhuri et al. / PPJoin).
    * Candidates therefore come from joining PREFIXES only — hot shingles
    * sort last and never enter candidate generation — and the exact
    * intersection is computed per candidate pair by a two-pointer merge
    * over each doc's SORTED 60-bit shingle-hash array (the native
    * `sorted_long_intersect_count` expression): Spark's `array_intersect`
    * builds a hash set of string elements per row, which alone dominated
    * the query (45 s for 500 k pairs at sf0.1 → <1 s). Results are
    * identical to the naive form.
    */
  /** Shared prefix-filter scaffolding for [[jaccardPairs]] and
    * [[containmentPairs]]: `ex` (exploded shingles), `docs` (per-doc
    * rarity-ordered shingles + sorted hash array + size, CACHED — the
    * subtree is consumed by the prefix explode and both verify sides;
    * Dataset.cache() is MEMORY_AND_DISK, spill-backed, so unlike the
    * broadcast it stays safe on the large path), `pex` (the rarity-ordered
    * prefix explode of length sz − ⌈t·sz⌉ + 1), the size-gated broadcast
    * function, and the pinned partition count.
    *
    * The broadcast gate: the per-doc relation carries every doc's sorted
    * shingle-hash array and the frequency relation one row per DISTINCT
    * corpus shingle (billions at 100 TB) — unconditional broadcasts are a
    * driver/executor-memory wall, so below `maxBroadcastDocs` (column-
    * pruned count of the input, or the caller's `knownDocCount` which
    * keeps the builder lazy) relations broadcast; above it every join
    * falls back to a shuffled equi-join on its natural key (the freq join
    * shuffles on `shingle` — the key the explode already hashes by).
    * The pinned partition count exists because the candidate set is
    * byte-small but compute-dense: AQE would coalesce its shuffle to 1-2
    * partitions and serialize the verify stage (AQE honors explicit
    * numPartitions).
    */
  private final case class PrefixFilterState(
      ex: DataFrame, docs: DataFrame, pex: DataFrame,
      gate: DataFrame => DataFrame, parts: Int)

  private def prefixFilterState(df: DataFrame, text: Column, idCol: String,
      shingleSize: Int, threshold: Double, maxBroadcastDocs: Long,
      knownDocCount: Option[Long]): PrefixFilterState = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    val smallCorpus =
      knownDocCount.getOrElse(df.select(col(idCol)).count()) <= maxBroadcastDocs
    // the exploded shingle relation feeds the frequency agg, the per-doc
    // build, and (containment) the probe side — persist so the corpus
    // tokenize+shingle pass runs once. Spill-safe MEMORY_AND_DISK; at
    // warehouse scale the relation is shingle-factor × corpus bytes, so
    // the cache trades executor storage for repeated map passes — the
    // same trade `docs` below already makes, one level earlier.
    val ex = explodedShingles(df, text, idCol, shingleSize).cache()
    val freq = ex.groupBy("shingle").agg(count(lit(1)).as("freq"))
    val gate: DataFrame => DataFrame =
      if (smallCorpus) broadcast else identity
    val docs = ex.join(gate(freq), "shingle")
      .groupBy(col(idCol))
      .agg(
        sort_array(collect_list(struct(col("freq"), col("shingle")))).as("fs"),
        sort_array(collect_list(Hashing.md5Long(col("shingle")))).as("hs"))
      .select(col(idCol),
        transform(col("fs"), s => s.getField("shingle")).as("shingles"),
        col("hs"),
        size(col("fs")).as("sz"))
      .cache()
    val withPrefix = docs.withColumn("plen",
      (col("sz") - ceil(col("sz") * lit(threshold)) + 1).cast("int"))
    val pex = withPrefix.select(col(idCol),
      explode(slice(col("shingles"), lit(1), col("plen"))).as("shingle"))
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    PrefixFilterState(ex, docs, pex, gate, parts)
  }

  def jaccardPairs(df: DataFrame, text: Column, idCol: String,
      shingleSize: Int, threshold: Double,
      maxBroadcastDocs: Long = 100000L,
      knownDocCount: Option[Long] = None): DataFrame = {
    val st = prefixFilterState(df, text, idCol, shingleSize, threshold,
      maxBroadcastDocs, knownDocCount)
    val cand = st.pex.select(col(idCol).as("id_a"), col("shingle"))
      .join(st.pex.select(col(idCol).as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .repartition(st.parts, col("id_a"), col("id_b"))
    val sidesA = st.docs.select(col(idCol).as("id_a"),
      col("hs").as("ha"), col("sz").as("sz_a"))
    val sidesB = st.docs.select(col(idCol).as("id_b"),
      col("hs").as("hb"), col("sz").as("sz_b"))
    cand.join(st.gate(sidesA), "id_a").join(st.gate(sidesB), "id_b")
      .withColumn("common",
        call_function("sorted_long_intersect_count", col("ha"), col("hb")))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Directed near-SUBSET pairs by set containment: c(A→B) =
    * |S(A) ∩ S(B)| / |S(A)| ≥ `threshold`, where S is the distinct
    * shingle set. Containment catches what symmetric Jaccard structurally
    * misses — a short document embedded verbatim in a much longer one has
    * J = |A|/|B| ≈ 0 but c(A→B) ≈ 1 — the quote/boilerplate/
    * document-inclusion shape of web-corpus contamination.
    *
    * Candidate generation is one-sided prefix filtering: only the PROBE
    * (contained) side explodes a rarity-ordered prefix of length
    * |A| − ⌈t·|A|⌉ + 1; if |A∩B| ≥ ⌈t·|A|⌉ then the prefix must hit the
    * intersection (pigeonhole), so recall is exact. The candidate join
    * runs prefix × full-shingle relation on `shingle` — the explode's own
    * natural key — and rarity ordering keeps the fanout bounded (the
    * prefix takes each doc's RAREST shingles first, and a rare shingle by
    * definition matches few documents). Verify is the same merge-intersect
    * kernel as [[jaccardPairs]], divided by |A| instead of the union.
    * Broadcasts are size-gated exactly like [[jaccardPairs]]; above the
    * gate every join is a shuffled equi-join on its natural key.
    */
  def containmentPairs(df: DataFrame, text: Column, idCol: String,
      shingleSize: Int, threshold: Double,
      maxBroadcastDocs: Long = 100000L,
      knownDocCount: Option[Long] = None): DataFrame = {
    val st = prefixFilterState(df, text, idCol, shingleSize, threshold,
      maxBroadcastDocs, knownDocCount)
    val cand = st.pex.select(col(idCol).as("id_a"), col("shingle"))
      .join(st.ex.select(col(idCol).as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").distinct()
      .repartition(st.parts, col("id_a"), col("id_b"))
    val sidesA = st.docs.select(col(idCol).as("id_a"),
      col("hs").as("ha"), col("sz").as("sz_a"))
    val sidesB = st.docs.select(col(idCol).as("id_b"), col("hs").as("hb"))
    cand.join(st.gate(sidesA), "id_a").join(st.gate(sidesB), "id_b")
      .withColumn("common",
        call_function("sorted_long_intersect_count", col("ha"), col("hb")))
      .withColumn("containment", col("common").cast("double") / col("sz_a"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** SimHash signature width. 48 bits keeps band arithmetic inside a signed
    * long with headroom in both engines.
    */
  val SimHashBits = 48

  /** SimHash: per-shingle 60-bit hashes vote on each signature bit
    * (presence-weighted, distinct shingles). Shingles — not unigram tokens —
    * are the feature set: on small-vocabulary corpora unigram sets are
    * nearly identical across unrelated documents, which collapses every
    * signature to the same neighborhood (measured: 35% of random pairs
    * within hamming 6); bigram shingles restore independence. One
    * hash-aggregate with 48 conditional sums (map-side partial agg, whole-
    * stage codegen) — NOT an explode to (doc, bit) rows, which 48×'d the
    * shuffle volume for the same result — and bit-for-bit reproducible in SQL.
    */
  def simhashSignatures(df: DataFrame, text: Column, idCol: String,
      shingleSize: Int = 2): DataFrame = {
    val ex = explodedShingles(df, text, idCol, shingleSize)
      .withColumn("h", Hashing.md5Long(col("shingle")))
    val votes = (0 until SimHashBits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"v$j")
    }
    val agg = ex.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val sim = (0 until SimHashBits).map(j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    agg.select(col(idCol), sim.as("simhash"))
  }

  /** Near-dup pairs by SimHash hamming distance ≤ maxDist, banded for scale:
    * the signature splits into `maxDist + 1` bands; any pair within distance
    * must agree on ≥1 whole band (pigeonhole), so candidates come from
    * band-bucket joins, never all-pairs. `maxBucketSize` guards the
    * per-bucket self-join against degenerate corpora exactly like
    * [[lshCandidatePairs]]'s cap.
    */
  def simhashNearDupPairs(sig: DataFrame, idCol: String, maxDist: Int,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val bands = maxDist + 1
    val width = SimHashBits / bands
    // both join sides derive from `sig` — persist so the signature pass
    // (shingle + per-bit vote aggregation) runs once, the
    // [[lshCandidatePairs]] rationale
    val sg = sig.localCheckpoint(true)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * width)
          .bitwiseAND((1L << width) - 1).as("bv"))
    }
    val buckets = capBuckets(
      sg.select(col(idCol), col("simhash"),
        explode(array(bandCols: _*)).as("bk")),
      maxBucketSize)
    val a = buckets.select(col("bk"), col(idCol).as("id_a"), col("simhash").as("sh_a"))
    val b = buckets.select(col("bk"), col(idCol).as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("bk")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** End-to-end corpus dedup: exact dedup first (cheap, catches byte
    * copies), then MinHash+LSH near-dup pairs, dropping the larger id of
    * every pair whose estimated Jaccard clears the threshold (greedy
    * min-id-wins — the standard one-pass approximation of connected-
    * component dedup; transitive chains resolve over repeated runs).
    * Everything composes the scale-safe pieces above: no stage is
    * O(docs²).
    */
  def nearDedup(df: DataFrame, text: Column, idCol: String,
      numHashes: Int, bands: Int, shingleSize: Int,
      estJaccardThreshold: Double): DataFrame = {
    // The exact-dedup survivor set feeds BOTH the signature pass and the
    // final anti-join; persisting it (spill-safe MEMORY_AND_DISK) saves a
    // full recomputation of the md5 groupBy + semi-join — one corpus scan
    // instead of two at scale.
    val exact = exactDedup(df, text, idCol).cache()
    // signatures persist inside lshCandidatePairs (eager localCheckpoint)
    val sig = minhashSignatures(exact, text, idCol, numHashes, shingleSize)
    val losers = lshCandidatePairs(sig, idCol, numHashes, bands)
      .filter(col("est_jaccard") >= estJaccardThreshold)
      .select(col("id_b").as(idCol)).distinct()
    exact.join(losers, Seq(idCol), "left_anti")
  }

  /** Connected components of an undirected pair relation, iterated TO
    * FIXPOINT: every node starts labeled with itself; each round every
    * node takes the min of its own and its neighbors' labels (min-label
    * propagation) and then SHORTCUTS through its label's own label
    * (pointer doubling: `comp := label(comp)`). The shortcut halves the
    * remaining label-distance to the component minimum each round, so
    * convergence is O(log diameter) rounds instead of plain propagation's
    * O(diameter) — a 10⁶-long duplicate chain converges in ~20 rounds,
    * not 10⁶. Iteration stops when a round changes ZERO labels (labels
    * are monotonically non-increasing per node, so the changed count is
    * an exact fixpoint test, the [[Graph.kCore]] discipline); correctness
    * therefore does not depend on any caller-supplied round budget. At
    * the fixpoint every edge has equal endpoint labels and every label is
    * its own label, which forces label = component minimum. A hard cap
    * (2⁶⁴-diameter equivalent) guards against a non-terminating bug by
    * FAILING LOUDLY — it can never silently under-merge.
    * Returns (`id`, `comp`) for every node that appears in a pair.
    */
  def connectedComponents(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol)._1

  /** [[connectedComponents]] exposing the round count it took to converge
    * — the observable `CcConvergenceSpec` pins the O(log diameter) bound
    * on (a planted deep chain mislabels under any fixed small budget).
    */
  private[graft] def connectedComponentsWithRounds(pairs: DataFrame,
      aCol: String, bCol: String): (DataFrame, Int) = {
    // Iterative lineage MUST be truncated: each round references the
    // previous labels twice, so without materialization the logical plan
    // (and the recomputation of the upstream pair generation) doubles per
    // iteration — exponential. cache() the static edge relation once;
    // localCheckpoint(eager) each round's labels, exactly the GraphX-style
    // pattern for bounded iterative refinement. Per-round cost stays
    // edge/vertex-relation-sized: one equi-join + partial-agg'd groupBy
    // over the edges, one self-join + one change-count join over the
    // labels (|V| rows each).
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .cache()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)
    val MaxRounds = 64 // O(log d) rounds ⇒ 64 covers any finite graph
    var round = 0
    var changed = 1L
    while (changed > 0L) {
      if (round >= MaxRounds)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $MaxRounds rounds — " +
            "pointer-doubled min-label must converge in O(log diameter); " +
            "this indicates a bug, not a deep graph")
      // 1) min-label propagation over the (static, cached) edge relation
      val prop = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("comp"))
        .unionAll(labels.select("id", "comp"))
        .groupBy("id").agg(min("comp").as("comp"))
        .localCheckpoint(true)
      // 2) pointer-doubling shortcut: comp := prop(comp). prop(x) ≤ x for
      //    every node x and prop(comp) is in comp's component, so the
      //    shortcut preserves both invariants while halving the label's
      //    remaining hop-distance to the component minimum. The previous
      //    label rides along as __prev so the fixpoint test below is a
      //    filter over this round's ONE materialization, not a third
      //    join-and-count job against the previous round.
      val next = prop
        .join(prop.select(col("id").as("comp"), col("comp").as("__c2")),
          Seq("comp"), "left")
        .select(col("id"), coalesce(col("__c2"), col("comp")).as("comp"))
        .join(labels.select(col("id"), col("comp").as("__prev")), "id")
        .localCheckpoint(true)
      changed = next.filter(col("comp") =!= col("__prev")).count()
      labels = next.select("id", "comp")
      round += 1
    }
    edges.unpersist()
    (labels, round)
  }

  /** [[nearDedup]] with transitive closure: the greedy pair-drop keeps a
    * chain A~B~C partially deduped in one pass (B and C both lose to A
    * only if LSH paired them with A directly); propagating min labels over
    * the pair graph first collapses every connected component to its
    * min-id representative in a single run. The closure iterates to
    * fixpoint ([[connectedComponents]]), so no diameter guess is needed —
    * each round runs over the pair relation, not the corpus.
    */
  def nearDedupCC(df: DataFrame, text: Column, idCol: String,
      numHashes: Int, bands: Int, shingleSize: Int,
      estJaccardThreshold: Double): DataFrame = {
    val exact = exactDedup(df, text, idCol).cache()
    val sig = minhashSignatures(exact, text, idCol, numHashes, shingleSize)
    val pairs = lshCandidatePairs(sig, idCol, numHashes, bands)
      .filter(col("est_jaccard") >= estJaccardThreshold)
    val losers = connectedComponents(pairs, "id_a", "id_b")
      .filter(col("comp") =!= col("id"))
      .select(col("id").as(idCol))
    exact.join(losers, Seq(idCol), "left_anti")
  }

  /** Component LABELING for every document (the relation [[nearDedupCC]]
    * reduces to survivors): exact-dedup survivors tagged with their
    * near-dup component id — the component's MIN member id, singletons
    * labeled by their own id. This is the input for policies beyond
    * keep-min-id: quality-based canonical selection, per-cluster stats,
    * duplicate-cluster audits.
    */
  def nearDedupComponents(df: DataFrame, text: Column, idCol: String,
      numHashes: Int, bands: Int, shingleSize: Int,
      estJaccardThreshold: Double): DataFrame = {
    val exact = exactDedup(df, text, idCol).cache()
    val sig = minhashSignatures(exact, text, idCol, numHashes, shingleSize)
    val pairs = lshCandidatePairs(sig, idCol, numHashes, bands)
      .filter(col("est_jaccard") >= estJaccardThreshold)
    val labels = connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", idCol)
    exact.join(labels, Seq(idCol), "left")
      .withColumn("comp", coalesce(col("comp"), col(idCol)))
  }

  /** CANONICAL-document selection: keep the best-`rank`ed member of each
    * component (pass a total order — e.g. quality desc, id asc — or the
    * survivor is nondeterministic). "Keep the best copy, not the first
    * copy" is the curation-grade dedup policy: near-dup clusters usually
    * hold one clean original plus mangled variants, and min-id keeps
    * whichever crawled first.
    *
    * Scale: one window partitioned by COMPONENT — component sizes are
    * duplicate-cluster sizes (bounded by the hot-bucket cap upstream),
    * never corpus-scale groups, so no partition serializes the corpus.
    */
  def canonicalPerComponent(members: DataFrame, compCol: String,
      rank: Seq[Column]): DataFrame = {
    val byComp = Window.partitionBy(col(compCol))
    members
      .withColumn("n_members", count(lit(1)).over(byComp))
      .withColumn("__graft_rn", row_number().over(byComp.orderBy(rank: _*)))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** Random-hyperplane LSH signature per embedding (SimHash for vectors):
    * bit j = sign(dot(v, h_j)) over deterministic integer hyperplanes,
    * packed into a 48-bit long — one codegen'd map pass, NO shuffle, no
    * training. Cosine-similar vectors agree on most bits
    * (P[match] = 1 − θ/π), so [[simhashNearDupPairs]] applies unchanged:
    * banded blocking + exact hamming check. Complements the IVF-blocked
    * [[embeddingNearDupPairs]]: hyperplane LSH needs no centroid pass and
    * its recall is corpus-independent, IVF adapts to the data's cluster
    * structure — at 100 TB run LSH for the first pass, IVF where trained
    * structure exists.
    */
  def embeddingSimhash(df: DataFrame, idCol: String, vecCol: String,
      bits: Int = SimHashBits): DataFrame = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    df.select(col(idCol),
      call_function("vec_hyperplane_sig", col(vecCol), lit(bits)).as("simhash"))
  }

  /** Near-dup pairs on an embedding column by cosine ≥ threshold —
    * IVF-blocked candidate generation, the 100 TB path.
    *
    * Pipeline: train k centroids ([[Similarity.kmeansCentroids]],
    * deterministic), assign every vector to its `nProbe` nearest clusters
    * (broadcast centroids, map-only), generate candidate pairs only WITHIN
    * a shared cluster (equi-join on `centroid_id` — a hash shuffle keyed by
    * cluster, never an all-pairs cross), then verify each candidate exactly
    * with the codegen'd `vec_dot`. Cost is O(n·nProbe + Σ bucket²), not
    * O(n²); `nProbe` > 1 recovers pairs that straddle a cluster boundary.
    * The candidate set is deduped on bare (id_a, id_b) keys BEFORE vectors
    * are re-attached, so the pair shuffle carries two longs per row.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numCentroids: Int = 16, kmeansIters: Int = 2,
      nProbe: Int = 2): DataFrame =
    embeddingNearDupPairsFrom(df,
      Similarity.kmeansCentroids(df, idCol, vecCol, numCentroids, kmeansIters),
      idCol, vecCol, threshold, nProbe)

  /** [[embeddingNearDupPairs]] against a GIVEN centroid relation — e.g. a
    * stored IVF index's `{name}_centroids` table ([[Similarity.writeIvfIndex]]),
    * so the nightly/repeated shape skips the k-means training jobs entirely
    * (assignment is a map against the centroid broadcast; the plan carries
    * no argmax/posexplode training stages).
    */
  def embeddingNearDupPairsFrom(df: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      nProbe: Int): DataFrame = {
    val assigned = Similarity.assignClusters(df, cents, idCol, vecCol, nProbe)
      .select(col("centroid_id"), col(idCol))
    val cand = assigned.select(col("centroid_id"), col(idCol).as("id_a"))
      .join(assigned.select(col("centroid_id"), col(idCol).as("id_b")),
        Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    verifyCosinePairs(df, idCol, vecCol, cand, threshold)
  }

  /** SemDeDup-style SEMANTIC dedup: keep one (min-id) representative per
    * group of embedding-cosine near-duplicates. Pairs come from the
    * IVF-blocked [[embeddingNearDupPairs]] (never all-pairs), and
    * transitive chains A~B~C where cos(A,C) dips below the threshold
    * collapse through the same fixpoint min-label closure as text CC dedup
    * ([[connectedComponents]] — iterations run over the pair relation, not
    * the corpus). The 100 TB shape is identical to `nearDedupCC` with the
    * text-LSH candidate stage swapped for vector blocking.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numCentroids: Int = 16, kmeansIters: Int = 2,
      nProbe: Int = 2): DataFrame =
    semanticDedupFrom(df,
      Similarity.kmeansCentroids(df, idCol, vecCol, numCentroids, kmeansIters),
      idCol, vecCol, threshold, nProbe)

  /** [[semanticDedup]] against a GIVEN (typically stored) centroid
    * relation — the repeated-run shape: blocking reuses the IVF index's
    * centroids, no training stage in the plan.
    */
  def semanticDedupFrom(df: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String, threshold: Double, nProbe: Int): DataFrame = {
    val pairs = embeddingNearDupPairsFrom(df, cents, idCol, vecCol,
      threshold, nProbe)
    val losers = connectedComponents(pairs.select("id_a", "id_b"),
        "id_a", "id_b")
      .filter(col("comp") =!= col("id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Exact all-pairs variant — the labeled O(n²) baseline for recall specs
    * and small corpora only (the plan IS a cross product; use
    * [[embeddingNearDupPairs]] at scale). Pre-normalized vectors + the
    * codegen'd `vec_dot` primitive keep the constant small (the interpreted
    * HOF form was 40× slower).
    */
  def embeddingNearDupPairsExact(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    val normed = df.select(col(idCol),
      call_function("vec_normalize", col(vecCol)).as("nv"))
    val a = normed.select(col(idCol).as("id_a"), col("nv").as("na"))
    val b = normed.select(col(idCol).as("id_b"), col("nv").as("nb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", call_function("vec_dot", col("na"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Exact-cosine verification of an (id_a, id_b) candidate relation:
    * re-attach unit vectors by id (two equi-joins — broadcast when small,
    * shuffled hash join otherwise; never a cross) and keep pairs clearing
    * the threshold.
    */
  private def verifyCosinePairs(df: DataFrame, idCol: String, vecCol: String,
      cand: DataFrame, threshold: Double): DataFrame = {
    graft.functions.VectorExpressions.register(df.sparkSession)
    val normed = df.select(col(idCol),
      call_function("vec_normalize", col(vecCol)).as("nv"))
    cand
      .join(normed.select(col(idCol).as("id_a"), col("nv").as("na")), "id_a")
      .join(normed.select(col(idCol).as("id_b"), col("nv").as("nb")), "id_b")
      .withColumn("cosine", call_function("vec_dot", col("na"), col("nb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Exact duplicate-SPAN detection — the sub-document half of exact
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): every k-token span whose gram text recurs in at
    * least `minDocs` distinct documents, as `(id, start, gram_hash)`
    * rows (`start` = 0-based token offset). Whole-document duplicates
    * surface here too (every span duplicated); boilerplate headers /
    * license blocks surface as span clusters no document-level dedup
    * can see.
    *
    * Scale design: positions come from `posexplode` over the positional
    * shingle array — the shuffle carries `(gram md5, id, start)`, never
    * gram text; duplicated grams are found by one two-phase
    * count-distinct agg on the gram hash and flow back through a
    * semi-join on the same key (the explode's own shuffle key). Cost is
    * O(corpus tokens), never O(docs²). Suffix-array construction — the
    * paper's in-memory approach — does not distribute; the k-gram
    * relaxation is the standard cluster form and finds every duplicate
    * of length ≥ k.
    */
  def duplicateSpans(docs: DataFrame, text: Column, idCol: String, k: Int,
      minDocs: Int = 2): DataFrame = {
    require(k >= 1 && minDocs >= 2, "k >= 1, minDocs >= 2")
    graft.functions.TextExpressions.register(docs.sparkSession)
    val ex = docs
      .select(col(idCol),
        posexplode(call_function("text_shingle_hashes", text, lit(k)))
          .as(Seq("start", "gram_hash")))
      .cache() // consumed twice (dup agg + semi-join); callers own cleanup
    val dup = ex.groupBy(col("gram_hash"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("gram_hash")
    ex.join(dup, Seq("gram_hash"), "left_semi")
      .select(col(idCol), col("start"), col("gram_hash"))
  }

  /** Persist the corpus's span state for [[duplicateSpansIncremental]]:
    * one row per DISTINCT k-gram hash, bucketed on it (the membership
    * join's key — nightly probes read co-located buckets, no state-side
    * shuffle). The relation is O(distinct corpus k-grams) ≈ token-scale;
    * it is the same relation exact span dedup shuffles internally, paid
    * once instead of per run. Maintenance is append-only: new batches'
    * grams union in (duplicates within the table are harmless — the probe
    * is a semi-join). Resets the streaming twin's phase ledger
    * ([[graft.io.PhaseLedger]]) first, so re-seeded state never inherits
    * an earlier run's marks.
    */
  def writeSpanState(corpus: DataFrame, text: Column, idCol: String, k: Int,
      warehouseDir: String, name: String, numBuckets: Int): Unit = {
    graft.io.PhaseLedger.reset(corpus.sparkSession, warehouseDir, name)
    graft.functions.TextExpressions.register(corpus.sparkSession)
    graft.io.Tables.writeWarehouseBucketed(
      corpus.select(explode(
          call_function("text_shingle_hashes", text, lit(k))).as("gram_hash"))
        .distinct(),
      warehouseDir, s"${name}_grams", "gram_hash", numBuckets)
  }

  /** Append one batch's distinct k-gram hashes to the stored gram
    * relation (`numBuckets` must match [[writeSpanState]]'s). Replay is
    * HARMLESS without a ledger: the state is consumed only by semi-join
    * probes, so duplicated gram rows change nothing — the append-only
    * twin of the CMS/HLL idempotence arguments.
    */
  def appendSpanState(spark: org.apache.spark.sql.SparkSession, name: String,
      batch: DataFrame, text: Column, idCol: String, k: Int,
      numBuckets: Int): Unit = {
    graft.functions.TextExpressions.register(spark)
    batch.select(explode(
        call_function("text_shingle_hashes", text, lit(k))).as("gram_hash"))
      .distinct()
      .write.mode("append")
      .bucketBy(numBuckets, "gram_hash").sortBy("gram_hash")
      .saveAsTable(s"${name}_grams")
    spark.catalog.refreshTable(s"${name}_grams")
  }

  /** Nightly sub-document contamination check: spans of a NEW batch that
    * duplicate content seen anywhere before — within the batch itself
    * (≥ minDocs distinct batch docs share the gram) or in the corpus
    * (gram present in the [[writeSpanState]] relation). Cost is
    * O(batch tokens) map work + a bucketed semi-join against the stored
    * gram relation — the corpus text is never scanned, exactly like the
    * stored-state MinHash path. Output shape matches [[duplicateSpans]]
    * restricted to batch docs, so [[stripDuplicateSpans]]-style removal
    * applies downstream.
    */
  def duplicateSpansIncremental(spark: org.apache.spark.sql.SparkSession,
      name: String, batch: DataFrame, text: Column, idCol: String, k: Int,
      minDocs: Int = 2): DataFrame = {
    graft.functions.TextExpressions.register(spark)
    val stored = graft.io.Tables.readWarehouseBucketed(spark, s"${name}_grams")
    val ex = batch
      .select(col(idCol),
        posexplode(call_function("text_shingle_hashes", text, lit(k)))
          .as(Seq("start", "gram_hash")))
      // consumed twice (dup agg + state semi-join); eager localCheckpoint
      // instead of cache so long-lived streaming callers (dupSpansBatch
      // runs one of these per micro-batch) don't accumulate pinned
      // storage — checkpoint blocks free with the plan, caches don't
      .localCheckpoint(true)
    val withinBatch = ex.groupBy(col("gram_hash"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("gram_hash")
    val inCorpus = ex.select("gram_hash")
      .join(stored, Seq("gram_hash"), "left_semi")
    ex.join(withinBatch.unionAll(inCorpus).distinct(),
        Seq("gram_hash"), "left_semi")
      .select(col(idCol), col("start"), col("gram_hash"))
  }

  /** Remove duplicated spans: tokens covered by a [[duplicateSpans]] hit
    * are dropped and the remainder rejoined in order (`clean_text`,
    * possibly empty). `keepFirst=false` (default) strips every
    * occurrence — the conservative contamination-removal form;
    * `keepFirst=true` preserves each gram's CANONICAL occurrence (lowest
    * (doc, offset)) and strips only the repeats — the Lee et al. 2022
    * dedup form, which keeps one copy of the duplicated content in the
    * corpus. Documents shorter than k tokens shingle as one whole-doc
    * gram, so short duplicated docs empty out (all copies, or all but
    * the lowest-id one under `keepFirst`).
    *
    * Scale design: coverage expands each span to k `(id, pos)` rows
    * (O(spans·k), duplicate-mass-sized, not corpus-sized); the
    * canonical-occurrence window partitions by gram hash over that same
    * duplicate-mass relation. Reconstruction is one anti-join plus one
    * groupBy on the id — the only corpus-sized shuffle, carrying
    * (id, pos, token). Per-doc state is bounded by document length
    * (`array_sort` of the collected (pos, token) structs restores order
    * deterministically).
    */
  def stripDuplicateSpans(docs: DataFrame, text: Column, idCol: String,
      k: Int, minDocs: Int = 2, keepFirst: Boolean = false): DataFrame = {
    val spans = duplicateSpans(docs, text, idCol, k, minDocs)
    val strippable =
      if (!keepFirst) spans
      else {
        val w = Window.partitionBy(col("gram_hash"))
          .orderBy(col(idCol).asc, col("start").asc)
        spans.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") > 1)
          .drop("__rn")
      }
    val covered = strippable
      .select(col(idCol),
        explode(sequence(col("start"), col("start") + lit(k - 1))).as("pos"))
      .distinct()
    val toksEx = docs
      .select(col(idCol), posexplode(TextAnalysis.tokens(text)).as(Seq("pos", "tok")))
    val rebuilt = toksEx.join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }
}
