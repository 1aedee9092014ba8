package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.io.Tables

/** MERGEABLE sketch state as warehouse relations — the monitoring half of
  * a 100 TB warehouse: distinct-count (HyperLogLog registers) and
  * quantile (fixed-width histogram) summaries that persist as tiny
  * tables, grow by APPENDING delta rows (O(batch) per ingest, like the
  * LM count state), and answer estimates without ever rescanning or
  * sorting the corpus.
  *
  * Both sketches are DETERMINISTIC by construction — registers derive
  * from md5 hashes and histogram bins from integer division, so the
  * stored state and every estimate replay exactly in the DuckDB oracle
  * (no engine-private sketch formats, unlike `approx_count_distinct` /
  * `percentile_approx` whose binary states are not portable). That is
  * what makes the sketches VERIFIABLE: `q_hll_stored` / `q_hist_quantile`
  * hash-compare state and estimates against from-scratch replays.
  *
  * Merge laws: HLL registers merge by per-bucket MAX, histogram bins by
  * per-bin SUM — both commutative/associative/idempotent-enough for the
  * log-structured shape (append rows, fold at read). Readers fold
  * co-located on the bucket layout; periodic compaction is the same
  * fold written back (the [[LangModel.compactLmDeltaState]] pattern).
  */
object SketchState {

  /** HLL precision: p = 8 → m = 256 registers; standard error
    * 1.04/√256 ≈ 6.5%.
    */
  val HllP = 8
  val HllM = 256

  /** Register cap. The 60-bit md5-derived hash leaves a 52-bit suffix
    * after bucketing; capping rho at 45 keeps `2^(RhoCap - rho)` and the
    * fixed-point register sum `S_fx ≤ m·2^45 = 2^53` inside EXACT double
    * range for the estimate division.
    */
  val RhoCap = 45

  /** Per-row HLL register observations: (group, bucket, rho) where
    * bucket = hash mod m and rho = 1 + trailing zeros of the remaining
    * hash bits (capped). The trailing-zero count is the string-length of
    * the lowest set bit's binary rendering — `conv`/`printf('%b')` in the
    * two engines, exact integer/string ops, no libm.
    */
  def hllObservations(df: DataFrame, groupCol: String, key: Column): DataFrame = {
    val hv = Hashing.md5Long(concat(lit("hll:"), key.cast("string")))
    df.select(col(groupCol), hv.as("__hv"))
      .withColumn("bucket", pmod(col("__hv"), lit(HllM.toLong)))
      .withColumn("__suf", expr(s"__hv div ${HllM}L"))
      .withColumn("rho",
        when(col("__suf") === 0, lit(RhoCap))
          .otherwise(least(
            length(conv(col("__suf").bitwiseAND(-col("__suf")).cast("string"),
              10, 2)).cast("long"),
            lit(RhoCap.toLong))))
      .select(col(groupCol), col("bucket"), col("rho"))
  }

  /** Folded register state: one row per (group, bucket) with the max rho
    * — the canonical HLL register array as a relation.
    */
  def hllState(df: DataFrame, groupCol: String, key: Column): DataFrame =
    hllObservations(df, groupCol, key)
      .groupBy(col(groupCol), col("bucket"))
      .agg(max("rho").as("rho"))

  /** Persist the register state, bucketed on the group key (reads fold
    * co-located). Delta rows from later batches append via
    * [[appendHllState]]; readers MAX-fold.
    */
  def writeHllState(df: DataFrame, groupCol: String, key: Column,
      warehouseDir: String, name: String, numBuckets: Int): Unit =
    Tables.writeWarehouseBucketed(hllState(df, groupCol, key),
      warehouseDir, s"${name}_hll", groupCol, numBuckets)

  /** Append one batch's register delta rows — O(batch) map+agg work,
    * never a state rewrite. Max-merge at read makes re-appended rows
    * semantically inert (MAX is idempotent), so replays are safe without
    * a ledger.
    */
  def appendHllState(spark: SparkSession, name: String, batch: DataFrame,
      groupCol: String, key: Column, numBuckets: Int): Unit =
    hllState(batch, groupCol, key)
      .write.mode("append")
      .bucketBy(numBuckets, groupCol).sortBy(groupCol)
      .saveAsTable(s"${name}_hll")

  private def hllwName(name: String) = s"${name}_hllw"

  /** Batch-PARTITIONED register layout for sliding-window distinct
    * counts ("distinct users in the last N days") — the question the
    * append-only max-fold state cannot answer, because MAX never
    * forgets. Each batch's own folded registers land in their
    * `_ingest_batch` partition (O(batch) cost; partition REPLACE, so
    * at-least-once replays are inert just like [[appendCmsState]]).
    */
  def appendHllWindowState(spark: SparkSession, warehouseDir: String,
      name: String, batch: DataFrame, groupCol: String, key: Column,
      batchTag: String): Unit = {
    require(batchTag.nonEmpty, "batchTag must be non-empty")
    Tables.writeWarehousePartitioned(
      hllState(batch, groupCol, key).withColumn("_ingest_batch", lit(batchTag)),
      warehouseDir, hllwName(name), Seq("_ingest_batch"))
  }

  /** Distinct-count estimates over ONLY the named batches: the isin
    * filter partition-prunes (expired batches cost zero IO; expiry =
    * dropping directories), the max-fold runs over ≤ batches·groups·m
    * register rows, and MAX-associativity makes the window fold EXACTLY
    * the registers of the windowed union — so the estimate is
    * bit-identical to a from-scratch build over the window.
    */
  def readHllWindow(spark: SparkSession, warehouseDir: String,
      name: String, groupCol: String, batchTags: Seq[String]): DataFrame =
    // hllEstimate max-folds the windowed register rows itself — one
    // (group, bucket) shuffle over ≤ batches·groups·m rows
    hllEstimate(
      Tables.readWarehouse(spark, warehouseDir, hllwName(name))
        .filter(col("_ingest_batch").isin(batchTags: _*)),
      groupCol)

  /** `α_m · m²` pre-folded in ONE place as a JVM double; both engines
    * receive it as the SAME shortest-round-trip decimal string through
    * `CAST('…' AS DOUBLE)` (string→double parsing is correctly rounded
    * everywhere). Raw fractional literals would NOT work: DuckDB types
    * `0.7213` as DECIMAL(5,4) and the decimal/double coercion chain
    * rounds differently from Spark's — caught by a hash mismatch.
    */
  val HllAlphaM2: Double = 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0

  /** 2^RhoCap as an exactly-representable integer string. */
  val HllPowStr: String = (1L << RhoCap).toString

  /** Distinct-count estimates from a register relation: per group the
    * fixed-point register sum `S_fx = Σ_buckets 2^(RhoCap − rho)` (absent
    * buckets contribute 2^RhoCap; integer sum — no float summation
    * order), the zero-register count V, and the standard HLL estimate
    * `α_m·m²·2^RhoCap / S_fx` evaluated in ONE fixed sequence of IEEE
    * double ops (string-cast constants, one division, one
    * multiplication) so both engines produce the identical bit pattern.
    */
  def hllEstimate(registers: DataFrame, groupCol: String): DataFrame = {
    registers
      .groupBy(col(groupCol), col("bucket"))
      .agg(max("rho").as("rho"))
      .groupBy(col(groupCol))
      .agg(
        sum(expr(s"shiftleft(1L, ${RhoCap} - rho)")).cast("long").as("__sp"),
        count(lit(1)).as("__nb"))
      .withColumn("s_fx",
        expr(s"__sp + shiftleft(${HllM}L - __nb, ${RhoCap})"))
      .withColumn("v", (lit(HllM.toLong) - col("__nb")))
      .withColumn("hll_est",
        expr(s"CAST('${HllAlphaM2}' AS DOUBLE) * " +
          s"(CAST('${HllPowStr}' AS DOUBLE) / CAST(s_fx AS DOUBLE))"))
      .select(col(groupCol), col("s_fx"), col("v"), col("hll_est"))
  }

  /** Estimates over the STORED register state (read-time max-fold). */
  def hllEstimateStored(spark: SparkSession, name: String,
      groupCol: String): DataFrame =
    hllEstimate(Tables.readWarehouseBucketed(spark, s"${name}_hll"), groupCol)

  /** Fixed-width histogram state: one row per (group, bin, count) with
    * bin = floor(value) div binWidth — the quantile-monitoring summary
    * (p50/p95/p99 over 100 TB without a sort). `floor` BEFORE the integer
    * cast: Spark's double→long cast truncates while other engines round,
    * so the explicit floor is what keeps binning engine-identical.
    */
  def histState(df: DataFrame, groupCol: String, value: Column,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth > 0")
    df.select(col(groupCol), floor(value).cast("long").as("__vi"))
      .withColumn("bin", expr(s"__vi div ${binWidth}L"))
      .groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("cnt"))
  }

  def writeHistState(df: DataFrame, groupCol: String, value: Column,
      binWidth: Long, warehouseDir: String, name: String,
      numBuckets: Int): Unit =
    Tables.writeWarehouseBucketed(histState(df, groupCol, value, binWidth),
      warehouseDir, s"${name}_hist", groupCol, numBuckets)

  /** Append one batch's bin-count delta rows; readers SUM-fold. Unlike
    * the MAX-fold registers, duplicated count rows DO double-count — an
    * at-least-once runner must tag batches like
    * [[LangModel.appendLmDelta]]; the batch API here assumes
    * exactly-once orchestration.
    */
  def appendHistState(spark: SparkSession, name: String, batch: DataFrame,
      groupCol: String, value: Column, binWidth: Long,
      numBuckets: Int): Unit =
    histState(batch, groupCol, value, binWidth)
      .write.mode("append")
      .bucketBy(numBuckets, groupCol).sortBy(groupCol)
      .saveAsTable(s"${name}_hist")

  private def histwName(name: String) = s"${name}_histw"

  /** Batch-PARTITIONED bin-count layout: the sliding-window quantile
    * state ("p95 latency over the last N days") AND the replay-safe form
    * of the histogram family — [[appendHistState]]'s sum-fold
    * double-counts a replayed batch, but here an at-least-once rerun
    * REPLACES its own `_ingest_batch` partition (the [[appendCmsState]]
    * contract), so no exactly-once orchestration is required.
    */
  def appendHistWindowState(spark: SparkSession, warehouseDir: String,
      name: String, batch: DataFrame, groupCol: String, value: Column,
      binWidth: Long, batchTag: String): Unit = {
    require(batchTag.nonEmpty, "batchTag must be non-empty")
    Tables.writeWarehousePartitioned(
      histState(batch, groupCol, value, binWidth)
        .withColumn("_ingest_batch", lit(batchTag)),
      warehouseDir, histwName(name), Seq("_ingest_batch"))
  }

  /** Quantile upper bounds over ONLY the named batches: the isin filter
    * partition-prunes the bin-count scan, and count ADDITIVITY makes the
    * window's sum-fold exactly the histogram of the windowed union — so
    * the quantiles are bit-identical to a from-scratch windowed build.
    */
  def readHistWindowQuantiles(spark: SparkSession, warehouseDir: String,
      name: String, groupCol: String, binWidth: Long, qsPpm: Seq[Long],
      batchTags: Seq[String]): DataFrame =
    histQuantiles(
      Tables.readWarehouse(spark, warehouseDir, histwName(name))
        .filter(col("_ingest_batch").isin(batchTags: _*)),
      groupCol, binWidth, qsPpm)

  /** Quantile upper bounds from a histogram relation: for each requested
    * ppm-quantile q, the upper edge `(bin+1)·binWidth` of the first bin
    * whose cumulative count reaches `ceil(q·n / 10⁶)` — all integer
    * arithmetic, exact in the oracle. The window runs over the
    * group × bins AGGREGATE (dozens of rows per group), never corpus
    * rows; estimates are conservative upper bounds with error ≤ binWidth.
    */
  def histQuantiles(hist: DataFrame, groupCol: String, binWidth: Long,
      qsPpm: Seq[Long]): DataFrame = {
    require(qsPpm.nonEmpty && qsPpm.forall(q => q > 0 && q <= 1000000L),
      "quantiles in (0, 1000000] ppm")
    val folded = hist.groupBy(col(groupCol), col("bin"))
      .agg(sum("cnt").cast("long").as("cnt"))
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col("bin"))
    val wAll = Window.partitionBy(col(groupCol))
    val cum = folded
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(wAll))
    val picks = qsPpm.map { q =>
      min(when(col("cum") >= expr(s"(${q}L * n + 999999L) div 1000000L"),
        (col("bin") + 1) * binWidth)).as(s"p${q / 10000}_ub")
    }
    cum.groupBy(col(groupCol)).agg(picks.head, picks.tail: _*)
  }

  /** Quantiles over the STORED histogram state (read-time sum-fold). */
  def histQuantilesStored(spark: SparkSession, name: String,
      groupCol: String, binWidth: Long, qsPpm: Seq[Long]): DataFrame =
    histQuantiles(Tables.readWarehouseBucketed(spark, s"${name}_hist"),
      groupCol, binWidth, qsPpm)

  /** EXACT heavy hitters (frequency share > 1/(k+1)) via the two-pass
    * sketch-then-confirm shape — the scalable replacement for a raw
    * `GROUP BY key HAVING count > N/(k+1)`, which shuffles the entire
    * distinct-key relation (billions of rows for web-corpus vocabularies)
    * to answer a ≤k-row question.
    *
    * Pass 1 aggregates a Misra-Gries summary
    * ([[graft.functions.MisraGriesExpressions]]): k counters per
    * partition, one k-entry row per partition in the merge shuffle, and
    * the mergeable-summaries guarantee that the ≤k candidates form a
    * SUPERSET of every key with true count > N/(k+1). Pass 2 exact-counts
    * ONLY the candidates — the `isin` filter prunes at the scan, and the
    * confirm aggregate's key space is ≤k — then keeps keys with
    * `count·(k+1) > N` (exact integer comparison, no float share). The
    * driver-side hop between passes carries ≤ k strings + one long —
    * metadata-scale, same class as the BPE merge table.
    *
    * Output is EXACT and deterministic (candidate-set variation across
    * merge orders can only add non-heavy candidates, which the confirm
    * filter removes), so it hash-verifies against the plain SQL oracle.
    */
  def heavyHitters(df: DataFrame, key: Column, k: Int): DataFrame = {
    require(k >= 1, "k >= 1")
    graft.functions.MisraGriesExpressions.register(df.sparkSession)
    val keyed = df.select(key.cast("string").as("key"))
    val row = keyed
      .agg(expr(s"mg_sketch(key, $k)").as("cands"), count(col("key")).as("n"))
      .head()
    val cands = row.getSeq[String](0)
    val total = row.getLong(1)
    if (cands.isEmpty)
      return keyed.limit(0).withColumn("cnt", lit(0L)).select("key", "cnt")
    keyed.filter(col("key").isin(cands: _*))
      .groupBy("key").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (k + 1) > total)
  }

  /** PER-GROUP exact heavy hitters — [[heavyHitters]] with a grouping
    * dimension ("each source's dominant tokens"), same two-pass
    * sketch-then-confirm shape with the driver hop replaced by a
    * broadcast: pass 1 aggregates one Misra-Gries summary AND the row
    * count per group (merge shuffle carries ≤ groups·k entries per
    * partition); the exploded (group, key, n) candidate relation —
    * groups·k rows, never collected — BROADCASTS onto the second scan,
    * so the confirm join filters corpus rows without shuffling them,
    * and the confirm aggregate's key space is ≤ groups·k. Exactness
    * argument is per-group identical to the global form.
    */
  def heavyHittersGrouped(df: DataFrame, groupCol: String, key: Column,
      k: Int): DataFrame = {
    require(k >= 1, "k >= 1")
    graft.functions.MisraGriesExpressions.register(df.sparkSession)
    val keyed = df.select(col(groupCol), key.cast("string").as("key"))
    val cands = keyed.groupBy(col(groupCol))
      .agg(expr(s"mg_sketch(key, $k)").as("__cands"),
        count(col("key")).as("__n"))
      .select(col(groupCol), explode(col("__cands")).as("key"), col("__n"))
    keyed.join(broadcast(cands), Seq(groupCol, "key"))
      .groupBy(col(groupCol), col("key"))
      .agg(count(lit(1)).as("cnt"), max("__n").as("__n"))
      .filter(col("cnt") * (k + 1) > col("__n"))
      .select(col(groupCol), col("key"), col("cnt"))
  }

  // ------------------------------------------------------------------
  // STORED heavy-hitter state: per-batch mergeable Misra-Gries summaries
  // ------------------------------------------------------------------

  /** One batch's WEIGHTED Misra-Gries summary as rows: ≤k (key, wt)
    * counters plus the batch's row count. One aggregate pass over the
    * batch (`mg_sketch_wt`), k-bounded output — the nightly cost of
    * keeping heavy-hitter state is O(batch) with a k-row footprint,
    * vocabulary size never materializes.
    */
  def mgSummary(batch: DataFrame, key: Column, k: Int): DataFrame = {
    require(k >= 1, "k >= 1")
    graft.functions.MisraGriesExpressions.register(batch.sparkSession)
    batch.select(key.cast("string").as("key"))
      .agg(expr(s"mg_sketch_wt(key, $k)").as("__mg"),
        count(col("key")).as("n"))
      .select(explode_outer(col("__mg")).as(Seq("key", "wt")), col("n"))
  }

  private def hhName(name: String) = s"${name}_hhmg"

  /** Seed heavy-hitter state from the first batch: the weighted summary
    * lands in `_ingest_batch=base` of `{name}_hhmg` (k rows). The same
    * partition-replace replay contract as
    * [[IncrementalAgg.appendRetractable]] — an at-least-once rerun
    * REPLACES its own partition, no ledger.
    */
  def createHhState(spark: SparkSession, warehouseDir: String, name: String,
      batch: DataFrame, key: Column, k: Int): Unit = {
    val base = new org.apache.hadoop.fs.Path(s"$warehouseDir/${hhName(name)}")
    base.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(base, true)
    Tables.writeWarehousePartitioned(
      mgSummary(batch, key, k).withColumn("_ingest_batch", lit("base")),
      warehouseDir, hhName(name), Seq("_ingest_batch"))
  }

  /** Nightly append: the batch's k-row summary replaces its own
    * `_ingest_batch` partition. State grows k rows per batch — compact
    * by merging old partitions with [[readHhCandidates]]'s fold if the
    * batch count ever matters, though 10 years of nightly batches is
    * ~3.7k·k rows: metadata-scale forever. Replay safety is FREE: the
    * write is a dynamic partition REPLACE keyed by the batch tag, so an
    * at-least-once re-run overwrites its own partition with identical
    * rows (no ledger); serving reads merge the summaries declaratively
    * and confirm exactly ([[storedHeavyHitters]]).
    */
  def appendHhState(spark: SparkSession, warehouseDir: String, name: String,
      batch: DataFrame, key: Column, k: Int, batchTag: String): Unit = {
    require(batchTag.nonEmpty && batchTag != "base", s"bad batchTag: $batchTag")
    Tables.writeWarehousePartitioned(
      mgSummary(batch, key, k).withColumn("_ingest_batch", lit(batchTag)),
      warehouseDir, hhName(name), Seq("_ingest_batch"))
  }

  /** DECLARATIVE cross-batch merge of the stored summaries: sum each
    * key's residual weights, subtract the (k+1)-th largest summed weight
    * (0 when ≤k keys survive), keep positive — the one-shot multi-way
    * Misra-Gries merge. Guarantee (mergeable summaries, one-shot case):
    * per-batch undercount sums to ≤ (N − M)/(k+1) and the single cut
    * subtracts ≤ M/(k+1) more (its top k+1 weights all fit inside the
    * total summary mass M), so every key with true count > N/(k+1)
    * keeps positive weight — the ≤k survivors are a SUPERSET of the
    * true heavy hitters over the ENTIRE ingest history, computed from
    * Σbatches·k summary rows and zero corpus bytes.
    *
    * Output: (key, wt_lb) — wt_lb the post-cut weight, a lower bound on
    * the key's true count.
    */
  def readHhCandidates(spark: SparkSession, warehouseDir: String,
      name: String, k: Int): DataFrame =
    hhCandidatesFrom(
      Tables.readWarehouse(spark, warehouseDir, hhName(name)), k)

  /** [[readHhCandidates]] over ONLY the named batches — the sliding
    * window's candidate merge. The isin filter partition-prunes the
    * summary scan; the superset guarantee holds verbatim with N and M
    * restricted to the window (the merge argument never references
    * batches outside the fold).
    */
  def readHhCandidatesWindow(spark: SparkSession, warehouseDir: String,
      name: String, k: Int, batchTags: Seq[String]): DataFrame =
    hhCandidatesFrom(
      Tables.readWarehouse(spark, warehouseDir, hhName(name))
        .filter(col("_ingest_batch").isin(batchTags: _*)), k)

  private def hhCandidatesFrom(mgRaw: DataFrame, k: Int): DataFrame = {
    val mg = mgRaw
      .filter(col("key").isNotNull) // explode_outer's empty-batch marker row
    val w = mg.groupBy("key").agg(sum("wt").as("wt"))
    // rank window over ≤ batches·k rows — metadata-scale by construction
    val byWt = org.apache.spark.sql.expressions.Window
      .orderBy(col("wt").desc, col("key").asc)
    val cut = w.withColumn("__rk", row_number().over(byWt))
      .agg(coalesce(max(when(col("__rk") === k + 1, col("wt"))), lit(0L))
        .as("__cut"))
      // column-derived constant key: a bare lit folds away → keyless
      // nested loop (the q_collocations lesson)
      .withColumn("__k", pmod(xxhash64(col("__cut")), lit(1)))
    w.withColumn("__k", pmod(xxhash64(col("wt")), lit(1)))
      .join(broadcast(cut), "__k")
      .filter(col("wt") - col("__cut") > 0)
      .select(col("key"), (col("wt") - col("__cut")).as("wt_lb"))
  }

  /** Total rows ingested into the state (Σ per-batch n — each batch's
    * summary rows replicate its count; MAX collapses the replication).
    */
  def hhStateTotal(spark: SparkSession, warehouseDir: String,
      name: String): Long =
    Tables.readWarehouse(spark, warehouseDir, hhName(name))
      .groupBy("_ingest_batch").agg(max("n").as("n"))
      .agg(sum("n")).head().getLong(0)

  /** [[hhStateTotal]] restricted to the named batches (partition-pruned). */
  def hhStateTotalWindow(spark: SparkSession, warehouseDir: String,
      name: String, batchTags: Seq[String]): Long =
    Tables.readWarehouse(spark, warehouseDir, hhName(name))
      .filter(col("_ingest_batch").isin(batchTags: _*))
      .groupBy("_ingest_batch").agg(max("n").as("n"))
      .agg(sum("n")).head().getLong(0)

  /** EXACT heavy hitters over the full ingest history, from stored
    * state + ONE pruned confirm scan. The candidate set and total come
    * from the k-row-per-batch summary state (zero corpus cost); the
    * confirm pass exact-counts only the ≤k candidates over `corpus` —
    * which MUST be the accumulated union of the ingested batches (the
    * warehouse stores it anyway; the `isin` filter prunes its scan to
    * the candidate keys, and only the key column is read). Same
    * exactness argument as [[heavyHitters]]: candidates are a superset,
    * the confirm filter `cnt·(k+1) > N` is exact integer arithmetic, so
    * the output is deterministic and oracle-verifiable.
    */
  def storedHeavyHitters(spark: SparkSession, warehouseDir: String,
      name: String, corpus: DataFrame, key: Column, k: Int): DataFrame = {
    val keyed = corpus.select(key.cast("string").as("key"))
    val cands = readHhCandidates(spark, warehouseDir, name, k)
      .select("key").collect().map(_.getString(0)) // ≤ k strings
    if (cands.isEmpty)
      return keyed.limit(0).withColumn("cnt", lit(0L)).select("key", "cnt")
    val total = hhStateTotal(spark, warehouseDir, name)
    keyed.filter(col("key").isin(cands.toSeq: _*))
      .groupBy("key").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (k + 1) > total)
  }

  /** EXACT heavy hitters over a BATCH WINDOW: candidates and total from
    * the window's partition-pruned summaries, confirm over `corpusWindow`
    * — which MUST be the union of exactly the windowed batches (the
    * warehouse's batch partitioning serves it with the same pruning).
    * The exactness argument is [[storedHeavyHitters]]'s verbatim with N
    * restricted to the window: "top tokens this week" instead of
    * all-history, at the same zero-corpus candidate cost.
    */
  def storedHeavyHittersWindow(spark: SparkSession, warehouseDir: String,
      name: String, corpusWindow: DataFrame, key: Column, k: Int,
      batchTags: Seq[String]): DataFrame = {
    val keyed = corpusWindow.select(key.cast("string").as("key"))
    val cands = readHhCandidatesWindow(spark, warehouseDir, name, k, batchTags)
      .select("key").collect().map(_.getString(0)) // ≤ k strings
    if (cands.isEmpty)
      return keyed.limit(0).withColumn("cnt", lit(0L)).select("key", "cnt")
    val total = hhStateTotalWindow(spark, warehouseDir, name, batchTags)
    keyed.filter(col("key").isin(cands.toSeq: _*))
      .groupBy("key").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (k + 1) > total)
  }

  // ------------------------------------------------------------------
  // KMV bottom-k overlap sketch (the intersectable distinct sketch)
  // ------------------------------------------------------------------

  /** md5Long hash domain: 60 bits (exactly representable in a double). */
  val KmvDomainStr: String = (1L << 60).toString

  /** One side's bottom-k sketch as rows: ≤k distinct `hv` longs. One
    * aggregate pass, k longs per partition buffer, one k-entry merge row
    * per partition ([[graft.functions.KmvExpressions]]) — the
    * distinct-key relation itself is never shuffled.
    */
  def kmvSketch(df: DataFrame, key: Column, k: Int): DataFrame = {
    require(k >= 2, "k >= 2")
    graft.functions.KmvExpressions.register(df.sparkSession)
    df.select(Hashing.md5Long(concat(lit("kmv:"), key.cast("string")))
        .as("hv"))
      .agg(expr(s"kmv_sketch(hv, $k)").as("__s"))
      .select(explode(col("__s")).as("hv"))
  }

  /** Corpus OVERLAP estimation from two bottom-k sketches — the
    * contamination / crawl-overlap measurement HLL cannot make
    * (registers union but never intersect; bottom-k is a uniform sample
    * of the distinct hash space, so it does both).
    *
    * U = bottom-k of the merged sketches (KMV mergeability: bottom-k of
    * a union of bottom-k's IS the union's bottom-k), d its largest
    * member, m = |{h ∈ U : h in BOTH sides}|. Estimates (Beyer et al.,
    * SIGMOD'07): |A ∪ B| ≈ (k−1)·M/d, J ≈ m/k, |A ∩ B| ≈ J·|A ∪ B|,
    * with standard error ~1/√(k−2). When U holds fewer than k values
    * the sketches ARE the distinct sets and all three are exact — the
    * CASE branches carry that explicitly.
    *
    * Everything after the two sketch aggregates touches ≤2k rows, and
    * every output is deterministic: exact longs plus estimates computed
    * as ONE pinned IEEE op sequence over exactly-representable
    * constants (the [[hllEstimate]] discipline), so the whole row
    * hash-verifies against the oracle's SQL replay of the same sketch.
    */
  def kmvOverlap(a: DataFrame, aKey: Column, b: DataFrame, bKey: Column,
      k: Int): DataFrame =
    kmvOverlapOfSketches(kmvSketch(a, aKey, k), kmvSketch(b, bKey, k), k)

  /** [[kmvOverlap]] when both sides are SLICES OF THE SAME relation
    * (the common contamination shape: new crawl vs training set in one
    * corpus table, split by a flag). Both sketches build in ONE
    * aggregate over ONE scan — two `kmv_sketch` aggregates sharing the
    * partial-agg tree, each fed its side through a null-excluded
    * `CASE` — instead of two full scans of an exploded shingle
    * relation. Same output row as [[kmvOverlap]], bit for bit.
    */
  def kmvOverlapSplit(df: DataFrame, key: Column, sideA: Column,
      k: Int): DataFrame = {
    require(k >= 2, "k >= 2")
    graft.functions.KmvExpressions.register(df.sparkSession)
    val hashed = df.select(
      Hashing.md5Long(concat(lit("kmv:"), key.cast("string"))).as("hv"),
      sideA.as("__a"))
    val sk = hashed.agg(
      expr(s"kmv_sketch(CASE WHEN __a THEN hv END, $k)").as("__sa"),
      expr(s"kmv_sketch(CASE WHEN NOT __a THEN hv END, $k)").as("__sb"))
      .localCheckpoint(true)
    kmvOverlapOfSketches(
      sk.select(explode(col("__sa")).as("hv")),
      sk.select(explode(col("__sb")).as("hv")), k)
  }

  /** [[kmvOverlap]] over pre-built sketch relations (live or stored —
    * KMV's exact mergeability makes them interchangeable).
    */
  def kmvOverlapOfSketches(sketchA: DataFrame, sketchB: DataFrame,
      k: Int): DataFrame = {
    val sa = sketchA.withColumn("in_a", lit(1L))
    val sb = sketchB.withColumn("in_b", lit(1L))
    val u = sa.join(sb, Seq("hv"), "full_outer")
      .orderBy("hv").limit(k)
    val unionEst = (lit(k - 1).cast("double")
      * expr(s"CAST($KmvDomainStr AS DOUBLE)")) / col("d").cast("double")
    u.agg(
        count(lit(1)).as("u_cnt"), max("hv").as("d"),
        sum(when(col("in_a").isNotNull && col("in_b").isNotNull, 1L)
          .otherwise(0L)).as("m_both"))
      .select(
        lit(k.toLong).as("k"), col("u_cnt"), col("d"), col("m_both"),
        when(col("u_cnt") < k, col("u_cnt").cast("double"))
          .otherwise(unionEst).as("est_union"),
        when(col("u_cnt") < k, col("m_both").cast("double"))
          .otherwise((col("m_both").cast("double") / lit(k).cast("double"))
            * unionEst).as("est_inter"))
  }

  /** Per-GROUP bottom-k sketches: one row per group carrying its sorted
    * ≤k-hash array — |groups| rows total, built in one grouped aggregate
    * pass (k longs per (partition, group) buffer). The sketch column is
    * the array form [[kmvOverlapMatrix]] consumes.
    */
  def kmvSketchGrouped(df: DataFrame, groupCol: String, key: Column,
      k: Int): DataFrame = {
    require(k >= 2, "k >= 2")
    graft.functions.KmvExpressions.register(df.sparkSession)
    df.select(col(groupCol).as("g"),
        Hashing.md5Long(concat(lit("kmv:"), key.cast("string"))).as("hv"))
      .groupBy("g").agg(expr(s"kmv_sketch(hv, $k)").as("sketch"))
  }

  /** PAIRWISE overlap matrix across groups — "how much does every corpus
    * source share with every other" in one statement (the N-way form of
    * [[kmvOverlap]]'s contamination measurement). One grouped sketch
    * pass over the corpus, then all |groups|² /2 pairs form on a
    * column-derived constant-key broadcast hash join over the |groups|-row
    * sketch relation (the house pattern — never a cross node), and each
    * pair's row is computed from its two ≤k arrays with O(k log k)
    * array kernels: U = bottom-k of the deduped union (exact KMV
    * mergeability), d = max(U), m = |{h ∈ U : h in both}|, estimates the
    * same pinned IEEE sequence as [[kmvOverlapOfSketches]] — so every
    * matrix cell hash-verifies against the oracle's relational replay.
    */
  def kmvOverlapMatrix(df: DataFrame, groupCol: String, key: Column,
      k: Int): DataFrame = {
    val sk = kmvSketchGrouped(df, groupCol, key, k).localCheckpoint(true)
    val a = sk.select(col("g").as("g_a"), col("sketch").as("__ha"))
      .withColumn("__k", pmod(xxhash64(col("g_a")), lit(1)))
    val b = sk.select(col("g").as("g_b"), col("sketch").as("__hb"))
      .withColumn("__k", pmod(xxhash64(col("g_b")), lit(1)))
    val u = slice(array_sort(array_union(col("__ha"), col("__hb"))), 1, k)
    val unionEst = (lit(k - 1).cast("double")
      * expr(s"CAST($KmvDomainStr AS DOUBLE)")) / col("d").cast("double")
    a.join(broadcast(b), "__k")
      .filter(col("g_a") < col("g_b"))
      .withColumn("__u", u)
      .withColumn("u_cnt", size(col("__u")).cast("long"))
      // ANSI guard: element_at(.., 0) on an empty union (two all-null
      // key groups) must yield null, not an index error
      .withColumn("d", when(size(col("__u")) > 0,
        element_at(col("__u"), size(col("__u")))))
      .withColumn("m_both", size(filter(col("__u"),
        x => array_contains(col("__ha"), x) &&
          array_contains(col("__hb"), x))).cast("long"))
      .select(
        col("g_a"), col("g_b"), lit(k.toLong).as("k"),
        col("u_cnt"), col("d"), col("m_both"),
        when(col("u_cnt") < k, col("u_cnt").cast("double"))
          .otherwise(unionEst).as("est_union"),
        when(col("u_cnt") < k, col("m_both").cast("double"))
          .otherwise((col("m_both").cast("double") / lit(k).cast("double"))
            * unionEst).as("est_inter"))
  }

  private def kmvName(name: String) = s"${name}_kmv"

  /** Seed stored KMV state: the batch's ≤k sketch rows land in
    * `_ingest_batch=base`. Same partition-replace replay contract as
    * [[createHhState]] — and because KMV is EXACTLY mergeable
    * (bottom-k of unioned bottom-k's = the union's bottom-k), the
    * stored chain reconstructs the corpus sketch LOSSLESSLY: stored ≡
    * live ≡ oracle, bit for bit, at any batch split.
    */
  def createKmvState(spark: SparkSession, warehouseDir: String, name: String,
      batch: DataFrame, key: Column, k: Int): Unit = {
    val base = new org.apache.hadoop.fs.Path(s"$warehouseDir/${kmvName(name)}")
    base.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(base, true)
    Tables.writeWarehousePartitioned(
      kmvSketch(batch, key, k).withColumn("_ingest_batch", lit("base")),
      warehouseDir, kmvName(name), Seq("_ingest_batch"))
  }

  /** Nightly append: the batch's own ≤k-row sketch replaces its own
    * partition — O(batch) cost, k-row footprint, replay-inert.
    */
  def appendKmvState(spark: SparkSession, warehouseDir: String, name: String,
      batch: DataFrame, key: Column, k: Int, batchTag: String): Unit = {
    require(batchTag.nonEmpty && batchTag != "base", s"bad batchTag: $batchTag")
    Tables.writeWarehousePartitioned(
      kmvSketch(batch, key, k).withColumn("_ingest_batch", lit(batchTag)),
      warehouseDir, kmvName(name), Seq("_ingest_batch"))
  }

  /** The corpus sketch from stored state: bottom-k distinct of the
    * per-batch sketch rows (Σbatches·k rows — metadata-scale). Exact by
    * mergeability; feed two of these to [[kmvOverlapOfSketches]].
    */
  def readKmvSketch(spark: SparkSession, warehouseDir: String,
      name: String, k: Int): DataFrame =
    Tables.readWarehouse(spark, warehouseDir, kmvName(name))
      .select("hv").distinct().orderBy("hv").limit(k)

  // --------------------------------------------------------------------
  // Count-min sketch: point-frequency ESTIMATES for arbitrary keys.
  //
  // The frequency family's division of labor: Misra-Gries answers "which
  // keys are frequent" (exact, via confirm pass), HLL answers "how many
  // distinct", KMV answers "how much overlap" — count-min answers "about
  // how often does THIS key occur" for ANY key without materializing the
  // key→count relation (billions of rows for a web vocabulary). State is
  // a fixed depth×width grid of counters: row i counts the key under
  // seeded hash h_i; an estimate is the MIN over the d rows' buckets.
  // Counters only overcount (colliding keys add), never undercount, so
  //   true ≤ est ≤ true + εN  with prob ≥ 1−δ  for w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉
  // (Cormode & Muthukrishnan 2005). Like the HLL/histogram/KMV state,
  // the sketch is DETERMINISTIC (md5-seeded hash family, integer
  // counters) — the DuckDB oracle replays the grid and the min-fold
  // bit-for-bit, estimator included, so q_cms hash-verifies end to end.
  // --------------------------------------------------------------------

  /** Hash entries (row_i, bucket) for every input row, one per sketch
    * row: h_i(x) = md5Long("i:" ++ x) mod width ([[Hashing.md5LongSeeded]]
    * — the same seeded family MinHash uses).
    */
  private def cmsEntries(keyed: DataFrame, depth: Int, width: Int): DataFrame = {
    val rows = (0 until depth).map { i =>
      struct(lit(i).as("row_i"),
        pmod(Hashing.md5LongSeeded(col("key"), i), lit(width.toLong))
          .as("bucket"))
    }
    keyed.select(explode(array(rows: _*)).as("rb"))
      .select(col("rb.row_i").as("row_i"), col("rb.bucket").as("bucket"))
  }

  /** One pass over the corpus → the depth×width counter grid as rows
    * (row_i, bucket, cnt), ≤ depth·width of them. The explode widens the
    * stream depth× BEFORE the aggregation, but partial aggregation
    * collapses each task's stream to ≤ depth·width rows map-side — the
    * exchange carries grid cells, never key instances, exactly like the
    * HLL register shuffle.
    */
  def cmsSketch(df: DataFrame, key: Column, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, "depth in [1,16]")
    require(width >= 1, "width >= 1")
    cmsEntries(df.select(key.cast("string").as("key")), depth, width)
      .groupBy("row_i", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Point-frequency estimates for `probeKey`s: each probe hashes to its
    * d grid cells, the ≤depth·width-row sketch BROADCASTS onto them
    * (probes are never shuffled), and the estimate is the min over rows —
    * an absent cell means the key was never seen (0). Output (key, est),
    * one row per distinct probe.
    */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, probeKey: Column,
      depth: Int, width: Int): DataFrame = {
    val p = probes.select(probeKey.cast("string").as("key")).distinct()
    val rows = (0 until depth).map { i =>
      struct(lit(i).as("row_i"),
        pmod(Hashing.md5LongSeeded(col("key"), i), lit(width.toLong))
          .as("bucket"))
    }
    p.select(col("key"), explode(array(rows: _*)).as("rb"))
      .select(col("key"), col("rb.row_i").as("row_i"),
        col("rb.bucket").as("bucket"))
      .join(broadcast(sketch), Seq("row_i", "bucket"), "left")
      .groupBy("key")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  private def cmsName(name: String) = s"${name}_cms"

  /** Seed stored count-min state: the batch's grid lands in
    * `_ingest_batch=base` of `{name}_cms`. Same partition-replace replay
    * contract as [[createHhState]]; counters are ADDITIVE, so the
    * sum-fold of per-batch grids equals the one-shot corpus grid exactly
    * — stored ≡ live ≡ oracle at any batch split.
    */
  def createCmsState(spark: SparkSession, warehouseDir: String, name: String,
      batch: DataFrame, key: Column, depth: Int, width: Int): Unit = {
    val base = new org.apache.hadoop.fs.Path(s"$warehouseDir/${cmsName(name)}")
    base.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(base, true)
    Tables.writeWarehousePartitioned(
      cmsSketch(batch, key, depth, width)
        .withColumn("_ingest_batch", lit("base")),
      warehouseDir, cmsName(name), Seq("_ingest_batch"))
  }

  /** Nightly append: the batch's own ≤depth·width-row grid replaces its
    * own partition — O(batch) cost, grid-sized footprint, replay-inert
    * (an at-least-once rerun REPLACES its partition, no ledger). Counter
    * ADDITIVITY makes the read-time sum-fold exactly equal the one-shot
    * corpus grid at any micro-batch split, and the per-batch partitions
    * double as the sliding-window axis ([[readCmsSketchWindow]]).
    */
  def appendCmsState(spark: SparkSession, warehouseDir: String, name: String,
      batch: DataFrame, key: Column, depth: Int, width: Int,
      batchTag: String): Unit = {
    require(batchTag.nonEmpty && batchTag != "base", s"bad batchTag: $batchTag")
    Tables.writeWarehousePartitioned(
      cmsSketch(batch, key, depth, width)
        .withColumn("_ingest_batch", lit(batchTag)),
      warehouseDir, cmsName(name), Seq("_ingest_batch"))
  }

  /** The corpus grid from stored state: per-cell SUM of the per-batch
    * grids (Σbatches·depth·width rows in, ≤depth·width out — metadata
    * scale). Exact by additivity.
    */
  def readCmsSketch(spark: SparkSession, warehouseDir: String,
      name: String): DataFrame =
    Tables.readWarehouse(spark, warehouseDir, cmsName(name))
      .groupBy("row_i", "bucket").agg(sum("cnt").as("cnt"))

  /** SLIDING-WINDOW read: the grid over only the named batches — the
    * "frequency in the last N days" question a training-data monitor
    * actually asks. `_ingest_batch` is the partition column, so the
    * isin filter partition-prunes (`PartitionFilters` in the plan,
    * CmsSpec-pinned): expired batches cost zero IO, and expiry itself is
    * just dropping their directories ([[Tables.expirePartitions]]).
    */
  def readCmsSketchWindow(spark: SparkSession, warehouseDir: String,
      name: String, batchTags: Seq[String]): DataFrame =
    Tables.readWarehouse(spark, warehouseDir, cmsName(name))
      .filter(col("_ingest_batch").isin(batchTags: _*))
      .groupBy("row_i", "bucket").agg(sum("cnt").as("cnt"))
}
