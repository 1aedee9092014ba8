package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** STORED per-key EWMA — the nightly form of [[Analytics.ewmaFixedPoint]]:
  * each batch folds from the keys' persisted resume points instead of
  * refolding history, so the nightly cost is O(batch) however long the
  * series grows. The state is the minimal sufficient statistic (EWMA is
  * Markov: last smoothed value per key), kept LOG-STRUCTURED like
  * [[CcState]]: per-batch partitions of
  *  - `{name}_ewout`: the batch's smoothed rows (key, o, x_fp, s_fp) —
  *    the materialized output stream, and
  *  - `{name}_ewres`: the batch's final resume value per TOUCHED key;
  *    the current resume point is max_by(batch) at read.
  * REPLAY-SAFE by the partition-replace contract: both partitions are
  * pure functions of strictly-earlier partitions plus the batch (the
  * fold reads resume points from tags < its own seq), so an
  * at-least-once rerun replaces its partitions with identical rows — no
  * ledger. Ordering contract (the SCD2 one): batches must arrive in
  * per-key order (split the stream on the order column, e.g. nightly ts
  * ranges); late data = refold the affected keys from an earlier seq.
  *
  * Integer arithmetic and the nonnegative-input caveat are
  * [[Analytics.ewmaFixedPoint]]'s verbatim; chain ≡ from-scratch at any
  * batch split because the recurrence depends on history only through
  * the resume value.
  */
object EwmaState {

  private def outName(name: String) = s"${name}_ewout"
  private def resName(name: String) = s"${name}_ewres"
  private def tag(seq: Int): String = f"b$seq%05d"

  /** Current resume points (key, s_fp): each key's value from its
    * latest batch. `uptoSeqExclusive` bounds the fold for replay use —
    * a partition-pruned filter.
    */
  def readEwmaResume(spark: SparkSession, warehouseDir: String, name: String,
      uptoSeqExclusive: Option[Int] = None): DataFrame = {
    val raw = Tables.readWarehouse(spark, warehouseDir, resName(name))
    val bounded = uptoSeqExclusive match {
      case Some(sq) => raw.filter(col("_ingest_batch") < tag(sq))
      case None     => raw
    }
    bounded.groupBy("key")
      .agg(expr("max_by(s_fp, _ingest_batch)").as("s_fp"))
  }

  /** The full materialized smoothed stream across every ingested batch. */
  def readEwmaSeries(spark: SparkSession, warehouseDir: String,
      name: String): DataFrame =
    Tables.readWarehouse(spark, warehouseDir, outName(name))
      .select("key", "o", "x_fp", "s_fp")

  private def aoutName(name: String) = s"${name}_ewaout"
  private def aresName(name: String) = s"${name}_ewares"

  /** Current anomaly resume points (key, s_fp, d_fp) — the sufficient
    * statistic of [[Analytics.ewmaAnomaly]]'s TWO recurrences (level and
    * band are both Markov), so the stored chain is exact at any ordered
    * batch split just like the plain smoother's.
    */
  def readEwmaAnomalyResume(spark: SparkSession, warehouseDir: String,
      name: String, uptoSeqExclusive: Option[Int] = None): DataFrame = {
    val raw = Tables.readWarehouse(spark, warehouseDir, aresName(name))
    val bounded = uptoSeqExclusive match {
      case Some(sq) => raw.filter(col("_ingest_batch") < tag(sq))
      case None     => raw
    }
    bounded.groupBy("key")
      .agg(expr("max_by(s_fp, _ingest_batch)").as("s_fp"),
        expr("max_by(d_fp, _ingest_batch)").as("d_fp"))
  }

  /** The full materialized anomaly stream across every ingested batch. */
  def readEwmaAnomalySeries(spark: SparkSession, warehouseDir: String,
      name: String): DataFrame =
    Tables.readWarehouse(spark, warehouseDir, aoutName(name))
      .select("key", "o", "x_fp", "s_fp", "d_fp", "is_anom")

  /** Bootstrap the anomaly state: clear and fold the first batch as
    * seq 0. Same partition-replace replay contract as the smoother.
    */
  def createEwmaAnomalyState(spark: SparkSession, warehouseDir: String,
      name: String, batch: DataFrame, keyCol: String, orderCol: Column,
      xFp: Column, num: Long, den: Long, bandNum: Long,
      bandDen: Long): Unit = {
    for (t0 <- Seq(aoutName(name), aresName(name))) {
      val p = new org.apache.hadoop.fs.Path(s"$warehouseDir/$t0")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    appendEwmaAnomalyAt(spark, warehouseDir, name, batch, keyCol, orderCol,
      xFp, num, den, bandNum, bandDen, seq = 0)
  }

  /** Fold one ordered batch of the anomaly stream from stored (s, d). */
  def appendEwmaAnomalyBatch(spark: SparkSession, warehouseDir: String,
      name: String, batch: DataFrame, keyCol: String, orderCol: Column,
      xFp: Column, num: Long, den: Long, bandNum: Long, bandDen: Long,
      seq: Int): Unit = {
    require(seq >= 1, "seq >= 1 (0 is the bootstrap batch)")
    appendEwmaAnomalyAt(spark, warehouseDir, name, batch, keyCol, orderCol,
      xFp, num, den, bandNum, bandDen, seq)
  }

  private def appendEwmaAnomalyAt(spark: SparkSession, warehouseDir: String,
      name: String, batch: DataFrame, keyCol: String, orderCol: Column,
      xFp: Column, num: Long, den: Long, bandNum: Long, bandDen: Long,
      seq: Int): Unit = {
    require(num >= 1 && num <= den, "alpha = num/den must be in (0, 1]")
    require(bandNum >= 1 && bandDen >= 1, "band must be positive")
    val prior =
      if (seq == 0)
        spark.emptyDataFrame.withColumn("key", lit(null).cast("string"))
          .withColumn("s_fp", lit(null).cast("long"))
          .withColumn("d_fp", lit(null).cast("long"))
          .limit(0).select("key", "s_fp", "d_fp")
      else readEwmaAnomalyResume(spark, warehouseDir, name, Some(seq))
    val packed = batch
      .select(col(keyCol).cast("string").as("key"),
        struct(orderCol.as("__o"), xFp.as("x")).as("__e"))
      .groupBy("key")
      .agg(sort_array(collect_list(col("__e"))).as("__es"))
      .join(prior, Seq("key"), "left")
    // floor-division steps (Analytics.fdiv) so negative x_fp agrees with
    // the DuckDB oracles' `//` — identical to `div` on nonnegatives
    val step = (sExpr: String, dExpr: String) =>
      s"""named_struct(
            's', ${Analytics.fdiv(s"${num}L * e.x + ${den - num}L * $sExpr", den)},
            'd', ${Analytics.fdiv(s"${num}L * abs(e.x - $sExpr) " +
              s"+ ${den - num}L * $dExpr", den)},
            'a', abs(e.x - $sExpr) * ${bandDen}L > ${bandNum}L * $dExpr)"""
    val folded = packed.withColumn("__ss",
      expr(s"""aggregate(
                 __es,
                 CAST(array() AS ARRAY<STRUCT<s: BIGINT, d: BIGINT, a: BOOLEAN>>),
                 (acc, e) -> CASE WHEN size(acc) = 0 THEN array(CASE
                     WHEN s_fp IS NULL
                       THEN named_struct('s', e.x, 'd', CAST(0 AS BIGINT),
                                         'a', false)
                     ELSE ${step("s_fp", "d_fp")} END)
                   ELSE array_append(acc,
                     ${step("element_at(acc, -1).s", "element_at(acc, -1).d")})
                   END)"""))
      .localCheckpoint(true)
    val out = folded
      .select(col("key"), posexplode(arrays_zip(col("__es"), col("__ss"))))
      .select(col("key"), col("col.__es.__o").as("o"),
        col("col.__es.x").as("x_fp"), col("col.__ss.s").as("s_fp"),
        col("col.__ss.d").as("d_fp"), col("col.__ss.a").as("is_anom"))
    Tables.writeWarehousePartitioned(
      out.withColumn("_ingest_batch", lit(tag(seq))),
      warehouseDir, aoutName(name), Seq("_ingest_batch"))
    Tables.writeWarehousePartitioned(
      folded.select(col("key"),
          element_at(col("__ss"), -1).getField("s").as("s_fp"),
          element_at(col("__ss"), -1).getField("d").as("d_fp"))
        .withColumn("_ingest_batch", lit(tag(seq))),
      warehouseDir, aresName(name), Seq("_ingest_batch"))
  }

  /** Bootstrap: clear state and fold the first batch as seq 0. */
  def createEwmaState(spark: SparkSession, warehouseDir: String, name: String,
      batch: DataFrame, keyCol: String, orderCol: Column, xFp: Column,
      num: Long, den: Long): Unit = {
    for (t0 <- Seq(outName(name), resName(name))) {
      val p = new org.apache.hadoop.fs.Path(s"$warehouseDir/$t0")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    appendEwmaBatchAt(spark, warehouseDir, name, batch, keyCol, orderCol,
      xFp, num, den, seq = 0)
  }

  /** Fold one ordered batch from the stored resume points (seq ≥ 1).
    * Replay safety: both output partitions are pure functions of
    * strictly-earlier partitions, so an at-least-once re-run of the same
    * seq replaces them with identical rows — no ledger. Ordering
    * contract: batches arrive in per-key order (file drops of nightly ts
    * ranges do). A streaming micro-batch id `b` maps to `seq = b + 1`.
    */
  def appendEwmaBatch(spark: SparkSession, warehouseDir: String, name: String,
      batch: DataFrame, keyCol: String, orderCol: Column, xFp: Column,
      num: Long, den: Long, seq: Int): Unit = {
    require(seq >= 1, "seq >= 1 (0 is the bootstrap batch)")
    appendEwmaBatchAt(spark, warehouseDir, name, batch, keyCol, orderCol,
      xFp, num, den, seq)
  }

  private def appendEwmaBatchAt(spark: SparkSession, warehouseDir: String,
      name: String, batch: DataFrame, keyCol: String, orderCol: Column,
      xFp: Column, num: Long, den: Long, seq: Int): Unit = {
    require(num >= 1 && num <= den, "alpha = num/den must be in (0, 1]")
    val prior =
      if (seq == 0)
        spark.emptyDataFrame.withColumn("key", lit(null).cast("string"))
          .withColumn("s_fp", lit(null).cast("long"))
          .limit(0).select("key", "s_fp")
      else readEwmaResume(spark, warehouseDir, name, Some(seq))
    val packed = batch
      .select(col(keyCol).cast("string").as("key"),
        struct(orderCol.as("__o"), xFp.as("x")).as("__e"))
      .groupBy("key")
      .agg(sort_array(collect_list(col("__e"))).as("__es"))
      .join(prior, Seq("key"), "left")
    // fold from the resume point: the first element seeds with the
    // stored s when present (s' = ⌊(num·x + (den−num)·s) / den⌋, floor
    // division — Analytics.fdiv — so negative x_fp matches the oracle's
    // `//`), else x
    val folded = packed.withColumn("__ss",
      expr(s"""aggregate(
                 __es,
                 CAST(array() AS ARRAY<BIGINT>),
                 (acc, e) -> CASE
                   WHEN size(acc) = 0 THEN array(CASE
                     WHEN s_fp IS NULL THEN e.x
                     ELSE ${Analytics.fdiv(
                       s"${num}L * e.x + ${den - num}L * s_fp", den)} END)
                   ELSE array_append(acc,
                     ${Analytics.fdiv(s"${num}L * e.x " +
                       s"+ ${den - num}L * element_at(acc, -1)", den)}) END)"""))
      .localCheckpoint(true)
    val out = folded
      .select(col("key"), posexplode(arrays_zip(col("__es"), col("__ss"))))
      .select(col("key"), col("col.__es.__o").as("o"),
        col("col.__es.x").as("x_fp"), col("col.__ss").as("s_fp"))
    Tables.writeWarehousePartitioned(
      out.withColumn("_ingest_batch", lit(tag(seq))),
      warehouseDir, outName(name), Seq("_ingest_batch"))
    Tables.writeWarehousePartitioned(
      folded.select(col("key"), element_at(col("__ss"), -1).as("s_fp"))
        .withColumn("_ingest_batch", lit(tag(seq))),
      warehouseDir, resName(name), Seq("_ingest_batch"))
  }
}
