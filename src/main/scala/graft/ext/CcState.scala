package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** INCREMENTALLY-maintained connected components — persistent dup-cluster
  * labels that absorb each night's new near-dup pairs WITHOUT recomputing
  * the whole graph. The canonical use: `lshCandidatePairs` over tonight's
  * batch emits new edges; the cluster state must fold them in so
  * canonical-document election and cluster audits stay current.
  *
  * Key structural fact: a batch of new edges can only MERGE existing
  * components (labels are component minima, and minima only decrease), so
  * the whole update reduces to connected components over the QUOTIENT
  * graph — one node per touched component, one edge per batch edge whose
  * endpoints resolve to different labels. That graph is batch-bounded,
  * never corpus-sized: the full-graph iteration [[Dedup.connectedComponents]]
  * runs ONCE at bootstrap, and nightly cost is
  * O(batch ⋈ labels + affected-component rows).
  *
  * Layout: log-structured label deltas (the LM-delta/CMS discipline) —
  * `{name}_cclab` partitioned by zero-padded `_ingest_batch`; a node's
  * current label is its row from the HIGHEST batch (labels shrink
  * monotonically, and the fold takes max_by(batch), so re-folding is
  * exact). REPLAY-SAFE by the partition-replace contract: batch seq's
  * delta is a pure function of the partitions STRICTLY BELOW seq (the
  * read excludes its own partition), so an at-least-once rerun replaces
  * its own partition with identical rows — no ledger.
  *
  * Compaction: [[compactCcState]] folds the log to one row per node and
  * swaps it in durably ([[Tables.replaceWarehouse]] staged rename), with
  * the rows sorted by comp so parquet min/max footers skip files on
  * comp-filtered audits.
  */
object CcState {

  private def ccName(name: String) = s"${name}_cclab"

  /** Size gate for the driver-side quotient union-find: below this many
    * quotient edges the merge map computes locally (16 MB of longs at
    * the gate — the metadata-collect budget); above it, or for non-long
    * node ids, the distributed min-label iteration runs instead.
    */
  val QuotientCollectMax: Long = 1000000L

  private def tag(seq: Int): String = f"b$seq%05d"

  private def normalized(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** Bootstrap: full fixpoint CC over the seed edge relation, written as
    * batch 0 ([[Dedup.connectedComponents]] converges in O(log diameter)
    * rounds with no caller-supplied budget).
    */
  def createCcState(spark: SparkSession, warehouseDir: String, name: String,
      edges: DataFrame, aCol: String, bCol: String): Unit = {
    val base = new org.apache.hadoop.fs.Path(s"$warehouseDir/${ccName(name)}")
    base.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(base, true)
    val labels = Dedup.connectedComponents(edges, aCol, bCol)
      .select(col("id").as("node"), col("comp"))
    Tables.writeWarehousePartitioned(
      labels.withColumn("_ingest_batch", lit(tag(0))),
      warehouseDir, ccName(name), Seq("_ingest_batch"))
  }

  /** Current labels: one row per node, the label from its highest batch.
    * `uptoSeqExclusive` (internal/replay use) folds only partitions
    * strictly below that batch — a partition-pruned filter.
    */
  def readCcLabels(spark: SparkSession, warehouseDir: String, name: String,
      uptoSeqExclusive: Option[Int] = None): DataFrame = {
    val raw = Tables.readWarehouse(spark, warehouseDir, ccName(name))
    val bounded = uptoSeqExclusive match {
      case Some(s) => raw.filter(col("_ingest_batch") < tag(s))
      case None    => raw
    }
    bounded.groupBy("node")
      .agg(expr("max_by(comp, _ingest_batch)").as("comp"))
  }

  /** Fold one night's new edges into the stored labels.
    *
    * 1. resolve both endpoints of every batch edge against the current
    *    labels (nodes unseen before label themselves);
    * 2. project to the QUOTIENT graph — distinct (label_a, label_b) with
    *    differing endpoints (batch-bounded);
    * 3. min-label CC over the quotient graph → a (old_label → root)
    *    merge map;
    * 4. delta = relabeled members of affected components (the only
    *    corpus-state rows touched) ∪ labels for brand-new nodes;
    * 5. partition-replace the batch's own delta partition.
    *
    * The merge map is usually metadata-sized; the affected-member relabel
    * is one join of the folded state against it. NOTE the quotient
    * graph's diameter is a property of the NEW batch's edge structure (a
    * batch chaining many previously-disjoint components can form an
    * arbitrarily long path), not of previous nights — which is exactly
    * why both merge-map paths are budget-free: the driver union-find is
    * exact, and the distributed fallback iterates
    * [[Dedup.connectedComponents]] to fixpoint.
    *
    * Replay safety: the delta is a pure function of strictly-earlier
    * partitions (the read excludes its own), so an at-least-once re-run
    * replaces its partition with identical rows — no ledger. A streaming
    * micro-batch id `b` maps to `seq = b + 1` (seq 0 is
    * [[createCcState]]'s bootstrap).
    */
  def appendCcEdges(spark: SparkSession, warehouseDir: String, name: String,
      edges: DataFrame, aCol: String, bCol: String, seq: Int): Unit = {
    require(seq >= 1, "seq >= 1 (0 is the bootstrap batch)")
    val e = normalized(edges, aCol, bCol).localCheckpoint(true)
    val cur = readCcLabels(spark, warehouseDir, name, Some(seq))
      .localCheckpoint(true)

    // endpoint → current-or-self label
    val nodes = e.select(col("src").as("node")).distinct()
    val resolved = nodes.join(cur, Seq("node"), "left")
      .select(col("node"), coalesce(col("comp"), col("node")).as("comp"))
      .localCheckpoint(true)

    // quotient edges: batch edges whose endpoints live in different comps
    val quotient = e
      .join(resolved.select(col("node").as("src"), col("comp").as("ca")), "src")
      .join(resolved.select(col("node").as("dst"), col("comp").as("cb")), "dst")
      .select(col("ca"), col("cb"))
      .filter(col("ca") =!= col("cb"))
      .distinct()
      .localCheckpoint(true) // consumed by count + collect/iteration

    // min-label CC over the quotient graph → merge map (old → root ≠ old).
    // The quotient is batch-bounded BY CONSTRUCTION (≤2 nodes per batch
    // edge), so up to the size gate it union-finds on the driver in
    // microseconds instead of burning per-round scheduler round-trips on a
    // metadata-sized relation — the same ≤metadata-scale-collect budget
    // as the merge path's touched-partition lists. Past the gate (a
    // pathological mass-merge night) the distributed min-label iteration
    // takes over; both produce the identical min-root map.
    val nq = quotient.count()
    val viaDriver = nq <= QuotientCollectMax &&
      quotient.schema.fields.forall(
        _.dataType == org.apache.spark.sql.types.LongType)
    val merge = {
      if (nq == 0L) {
        import spark.implicits._
        Seq.empty[(Long, Long)].toDF("old_comp", "root")
      } else if (viaDriver) {
        import spark.implicits._
        val edgesLocal = quotient.as[(Long, Long)].collect()
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
          }
          r
        }
        edgesLocal.foreach { case (a, b) =>
          val ra = find(a); val rb = find(b)
          if (ra != rb) { // union by MIN: the root is the component minimum
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        val nodes = edgesLocal.flatMap(e => Seq(e._1, e._2)).distinct
        nodes.map(n => (n, find(n))).filter { case (n, r) => r != n }
          .toSeq.toDF("old_comp", "root")
      } else
        // past the gate the distributed FIXPOINT iteration takes over —
        // same min-root map, no diameter budget to get wrong
        Dedup.connectedComponents(quotient, "ca", "cb")
          .select(col("id").as("old_comp"), col("comp").as("root"))
          .filter(col("old_comp") =!= col("root"))
    }.localCheckpoint(true)

    // Broadcast the merge map ONLY on the driver path, where it is
    // provably ≤ gate-sized; past the gate (a pathological mass-merge
    // night) it can hold millions of rows and a forced broadcast risks
    // OOM exactly when the fallback exists — leave that decision to AQE.
    val mergeM = if (viaDriver) broadcast(merge) else merge

    // members of affected components pick up their new root …
    val relabeled = cur
      .join(mergeM, cur("comp") === mergeM("old_comp"))
      .select(col("node"), col("root").as("comp"))
    // … and new nodes enter with their (possibly merged) self label
    val fresh = resolved.join(cur.select("node"), Seq("node"), "left_anti")
      .join(mergeM, resolved("comp") === mergeM("old_comp"), "left")
      .select(resolved("node"), coalesce(col("root"), resolved("comp")).as("comp"))

    Tables.writeWarehousePartitioned(
      relabeled.unionByName(fresh).withColumn("_ingest_batch", lit(tag(seq))),
      warehouseDir, ccName(name), Seq("_ingest_batch"))
  }

  /** Fold the label log to one row per node and swap it in durably
    * (staged rename — readers see the old log or the compacted one,
    * never a half-state). Rows sort by comp so parquet min/max footers
    * skip files on comp-filtered reads ("show me cluster X").
    */
  def compactCcState(spark: SparkSession, warehouseDir: String,
      name: String): Unit = {
    val folded = readCcLabels(spark, warehouseDir, name)
      .withColumn("_ingest_batch", lit(tag(0)))
      .sortWithinPartitions("comp")
      .localCheckpoint(true)
    Tables.replaceWarehouse(spark, warehouseDir, ccName(name), folded,
      Seq("_ingest_batch"))
  }
}
