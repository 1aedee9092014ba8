package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** MANIFEST-versioned partitioned tables — MVCC with FILE REUSE, the
  * Delta/Iceberg shape that makes versioning affordable for FACT tables:
  * a version is a MANIFEST (one line per partition → immutable data
  * dir), so a nightly write that touches one partition commits a new
  * version writing exactly that partition's bytes and REUSES every
  * untouched partition's files. [[Versioned]] (full snapshots) pays
  * full-table write amplification per version — right for dimension and
  * state tables; this layer is the 100 TB path for partitioned corpora
  * (a nightly-versioned 10 TB table writes GBs per night, not 10 TB).
  *
  * Layout under `{table}.mv/`:
  *  - `parts/<key>/<uuid>/` — immutable partition-GENERATION dirs
  *    (plain parquet; the partition column is RETAINED in the files, so
  *    reads are simple unions with no directory-inference tricks);
  *  - `deletes/<key>/<uuid>/` — immutable DELETE-VECTOR dirs (row-level
  *    tombstones applied merge-on-read, see below);
  *  - `blooms/<key>/<uuid>/` — immutable BLOOM-SIDECAR dirs (per-column
  *    membership filters for point-lookup pruning, [[BloomSidecar]]);
  *  - `_manifest.v%05d` — header lines (`#schema`, `#partcols`,
  *    `#dvkey`, `#bloomcols`, `#note`) + one TSV entry per live
  *    partition:
  *    `key<TAB>data-dir[<TAB>dv-dirs[<TAB>zone-map[<TAB>rows[<TAB>bloom-dir]]]]`.
  *
  * COMMIT = the atomic publish of the next `_manifest.v%05d` WITH its
  * full content ([[CommitProtocol]]: hard-link on local filesystems,
  * write-then-rename-no-overwrite on HDFS, adapter seam for object
  * stores) — there is no separate pointer, so a version either exists
  * completely or not at all, and a crash at any point leaves only
  * unreferenced data dirs (swept by [[vacuum]]), never a torn table.
  *
  * OPTIMISTIC CONCURRENCY falls out of the commit primitive: a writer
  * bases its merged manifest on the current committed version and tries
  * to commit as the next number; if a peer won that number, the writer
  * re-reads the NEW base, re-merges its partition entries against it,
  * and retries. For [[writeDelta]] — where the caller supplies each
  * touched partition's FULL intended content — partition-level
  * last-wins on true overlaps is coherent and staged dirs stay valid
  * across retries. For the read-modify-write paths ([[mergeVersioned]])
  * retrying with stale staged dirs would be a LOST UPDATE (the merge
  * was computed against a snapshot a peer has since replaced), so those
  * paths carry an EXPECTATION: if any touched partition's manifest
  * entry in the live head differs from the pinned base snapshot's, the
  * commit aborts with [[ConcurrentWriteConflictException]] and the
  * whole merge re-runs from the new head — the analogue of Delta's
  * `ConcurrentAppendException`, resolved by retry instead of failure.
  *
  * DELETE VECTORS (merge-on-read): [[deleteRows]] commits row-level
  * tombstones as tiny per-partition delete dirs referenced by the
  * manifest entry — a scattered GDPR-style delete costs O(delete bytes)
  * instead of rewriting every touched partition. Reads apply the
  * vectors as an anti-join on the recorded key column; any rewrite of a
  * partition ([[writeDelta]], [[mergeVersioned]], [[compactPartitions]])
  * FOLDS its vectors (the new generation starts clean).
  *
  * ZONE MAPS: every staged partition records per-column min/max in its
  * manifest entry, and [[readWhere]] prunes partitions at the MANIFEST
  * level — a selective predicate on a NON-partition column skips
  * listing and scanning partitions its range disproves (the Iceberg
  * manifest-stats idea). Pruning is strictly conservative: any doubt
  * (missing stats, unparseable bound, pre-stats manifest) keeps the
  * partition, and the residual row filter always applies.
  *
  * Partition keys: each partition column's STRING value, hex-encoded
  * (`x<HEX>`, `xNULL` for null) so any value — spaces, unicode,
  * separators — is a safe directory name; MULTI-column partitioning
  * joins the per-column tokens with `.` (`x41.x1992` for ("A","1992")).
  *
  * Rollback is [[restore]]: commit a NEW version whose manifest equals
  * the old one — zero data movement (pure file reuse), and history
  * stays forward-only (no pointer to regress, no forensics window).
  */
object ManifestVersioned {

  /** Recorded per-column value range of one partition generation
    * (stat tokens rendered by type — see [[ZoneMaps]]); `(None, None)`
    * means the column is ALL NULL in the partition (prunable under any
    * range/equality predicate), absence from the stats map means
    * unknown (never prune). `nulls` is the column's NULL count (`-1` =
    * unrecorded, pre-null-stats manifests — [[ZoneIsNull]] then keeps).
    */
  final case class ColRange(lo: Option[String], hi: Option[String],
      nulls: Long = -1L)

  /** One manifest entry: the partition's immutable data generation dir,
    * the delete-vector dirs applied to it merge-on-read (commit order),
    * its zone-map stats, its staged row count (`-1` = unrecorded,
    * pre-r8 manifests; counts describe the GENERATION — delete vectors
    * make the visible count an upper bound until the next fold), and
    * its bloom-sidecar dir (None = the generation was staged without a
    * bloom policy — probes keep the partition; see [[BloomSidecar]]).
    */
  final case class Entry(dir: String, deletes: Seq[String] = Nil,
      stats: Map[String, ColRange] = Map.empty, rows: Long = -1L,
      bloom: Option[String] = None, bytes: Long = -1L)

  private def root(warehouseDir: String, table: String) =
    new Path(s"$warehouseDir/$table.mv")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(base: Path, v: Int) =
    new Path(base, f"_manifest.v$v%05d")

  // ── partition keys ────────────────────────────────────────────────

  private def keyOf1(value: String): String =
    if (value == null) "xNULL"
    else "x" + value.getBytes("UTF-8").map("%02X".format(_)).mkString

  private def valueOf1(tok: String): String = {
    val h = tok.stripPrefix("x")
    if (h == "NULL") null
    else new String(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray,
      "UTF-8")
  }

  /** Hex partition key for a raw string value (null-safe) — public so
    * audits/tests can address manifest entries by value.
    */
  def keyOf(value: String): String = keyOf1(value)

  /** Multi-column key: per-column hex tokens joined with `.` (the token
    * alphabet is `[x0-9A-F]`/`xNULL`, so the dot is unambiguous).
    */
  def keyOf(values: Seq[String]): String = values.map(keyOf1).mkString(".")

  /** Inverse of [[keyOf]] for audit/diff output: single-column keys
    * round-trip exactly; multi-column keys render as values joined with
    * `/` (nulls as `NULL`) — use [[partValuesOf]] for exact access.
    */
  def valueOf(key: String): String =
    if (!key.contains('.')) valueOf1(key)
    else partValuesOf(key)
      .map(v => if (v == null) "NULL" else v).mkString("/")

  /** Exact per-column values of a (possibly multi-column) key. */
  def partValuesOf(key: String): Seq[String] =
    key.split("\\.").toSeq.map(valueOf1)

  /** The hex-key EXPRESSION over partition columns — the same encoding
    * [[keyOf]] applies driver-side, computed per row (stage writes and
    * delete-vector application address partitions through it).
    */
  private def keyExpr(partCols: Seq[String]): Column =
    concat_ws(".", partCols.map(c =>
      concat(lit("x"), coalesce(
        hex(encode(col(c).cast("string"), "UTF-8")), lit("NULL")))): _*)

  // ── manifest parsing / rendering ──────────────────────────────────

  /** Committed version ids, ascending (a version exists ⟺ its manifest
    * file exists — the manifest IS the commit record).
    */
  def listVersions(spark: SparkSession, warehouseDir: String,
      table: String): Seq[Int] = {
    val base = root(warehouseDir, table)
    val fs = fsOf(spark, base)
    if (!fs.exists(base)) Nil
    // \d{5,}: the %05d format grows to 6 digits at version 100000 (the
    // streaming sink burns one version per micro-batch, so it is
    // reachable); a width-pinned match would freeze the visible head at
    // 99999 while commits kept succeeding invisibly
    else fs.listStatus(base).toSeq.map(_.getPath.getName)
      .filter(_.matches("_manifest\\.v\\d{5,}"))
      .map(_.stripPrefix("_manifest.v").toInt).sorted
  }

  def currentVersion(spark: SparkSession, warehouseDir: String,
      table: String): Option[Int] =
    listVersions(spark, warehouseDir, table).lastOption

  /** One full parse of a committed manifest: (headers, entries).
    * Header lines are `#key<TAB>value`; entry lines are
    * `key<TAB>dir[<TAB>dv1,dv2[<TAB>zonemap[<TAB>rows[<TAB>bloomdir]]]]`
    * (r7 manifests carry only the first two fields and parse as
    * dv-free, stats-free, bloom-free entries — every later field is
    * independently optional).
    */
  private def loadManifest(fs: FileSystem, p: Path)
      : (Map[String, String], Map[String, Entry]) = {
    require(fs.exists(p), s"manifest $p is not committed")
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    val headers = lines.filter(_.startsWith("#")).map { l =>
      val Array(k, v) = l.stripPrefix("#").split("\t", 2)
      k -> v
    }.toMap
    val entries = lines.filter(l => l.nonEmpty && !l.startsWith("#")).map {
      line =>
        val f = line.split("\t", -1)
        val dvs =
          if (f.length < 3 || f(2).isEmpty) Nil
          else f(2).split(",").toSeq
        val stats =
          if (f.length < 4 || f(3).isEmpty) Map.empty[String, ColRange]
          else ZoneMaps.parseStats(f(3))
        val rows =
          if (f.length < 5 || f(4).isEmpty) -1L else f(4).toLong
        val bloom =
          if (f.length < 6 || f(5).isEmpty) None else Some(f(5))
        val bytes =
          if (f.length < 7 || f(6).isEmpty) -1L else f(6).toLong
        f(0) -> Entry(f(1), dvs, stats, rows, bloom, bytes)
    }.toMap
    (headers, entries)
  }

  private def resolve(spark: SparkSession, warehouseDir: String,
      table: String, asOf: Option[Int]): Int =
    asOf.orElse(currentVersion(spark, warehouseDir, table)).getOrElse(
      throw new java.util.NoSuchElementException(
        s"$table has no committed manifest version"))

  /** The full typed manifest of a committed version. */
  def manifestEntries(spark: SparkSession, warehouseDir: String,
      table: String, asOf: Option[Int] = None): Map[String, Entry] = {
    val base = root(warehouseDir, table)
    loadManifest(fsOf(spark, base),
      manifestPath(base, resolve(spark, warehouseDir, table, asOf)))._2
  }

  /** The (key → relative data dir) view of a committed version — the
    * r7-compatible surface (delete vectors and stats live on
    * [[manifestEntries]]).
    */
  def manifest(spark: SparkSession, warehouseDir: String, table: String,
      asOf: Option[Int] = None): Map[String, String] =
    manifestEntries(spark, warehouseDir, table, asOf)
      .map { case (k, e) => k -> e.dir }

  private def headersOf(spark: SparkSession, warehouseDir: String,
      table: String, asOf: Option[Int]): Map[String, String] = {
    val base = root(warehouseDir, table)
    loadManifest(fsOf(spark, base),
      manifestPath(base, resolve(spark, warehouseDir, table, asOf)))._1
  }

  /** The version's AUTHORITATIVE schema, recorded in the manifest
    * header at commit time (None only for pre-schema-header manifests).
    * Reads apply it explicitly, so a version whose partitions were
    * written under different (additively evolved) schemas still reads
    * as ONE coherent relation — old files surface later columns as
    * NULL — without the per-file footer cost of `mergeSchema` and
    * without the plain reader's pick-a-random-file schema roulette.
    */
  def manifestSchema(spark: SparkSession, warehouseDir: String,
      table: String, asOf: Option[Int] = None): Option[StructType] =
    try headersOf(spark, warehouseDir, table, asOf).get("schema")
      .map(DataType.fromJson(_).asInstanceOf[StructType])
    catch { case _: java.util.NoSuchElementException => None }

  /** The committer-supplied NOTE of a committed version (None when the
    * commit carried none) — provenance the streaming sink uses for its
    * exactly-once replay guard (the note records the micro-batch id).
    */
  def manifestNote(spark: SparkSession, warehouseDir: String, table: String,
      asOf: Option[Int] = None): Option[String] =
    try headersOf(spark, warehouseDir, table, asOf).get("note")
    catch { case _: java.util.NoSuchElementException => None }

  /** The table's commit HISTORY as a relation — one row per retained
    * version (newest first): commit wall-clock, writer note, partition
    * count, recorded row total (NULL when any entry predates counts;
    * an upper bound under outstanding delete vectors), and the
    * partition layout. Driver-side manifest headers only — zero data
    * reads, one listing, and one parse per version; the
    * DESCRIBE-HISTORY-shaped audit every operator asks for before
    * touching a table.
    */
  def history(spark: SparkSession, warehouseDir: String,
      table: String): DataFrame = {
    import spark.implicits._
    val base = root(warehouseDir, table)
    val fs = fsOf(spark, base)
    listVersions(spark, warehouseDir, table).reverse.map { v =>
      val (hdr, entries) = loadManifest(fs, manifestPath(base, v))
      val rows = entries.values.map(_.rows)
      (v,
        hdr.get("ts").map(t => new java.sql.Timestamp(t.toLong)).orNull,
        hdr.get("note").orNull,
        entries.size.toLong,
        // rowCountUpper's rule: unbounded once any entry predates counts
        (if (rows.exists(_ < 0)) null else java.lang.Long.valueOf(rows.sum)),
        hdr.get("partcols").orNull)
    }.toDF("version", "committed_at", "note", "n_partitions", "n_rows",
      "part_cols")
  }

  /** The table's recorded partition columns (None for pre-r8
    * manifests).
    */
  def partitionColumns(spark: SparkSession, warehouseDir: String,
      table: String, asOf: Option[Int] = None): Option[Seq[String]] =
    try headersOf(spark, warehouseDir, table, asOf).get("partcols")
      .map(_.split(",").toSeq)
    catch { case _: java.util.NoSuchElementException => None }

  /** The key column delete vectors anti-join on (None until the first
    * [[deleteRows]] commit).
    */
  def deleteKeyColumn(spark: SparkSession, warehouseDir: String,
      table: String, asOf: Option[Int] = None): Option[String] =
    try headersOf(spark, warehouseDir, table, asOf).get("dvkey")
    catch { case _: java.util.NoSuchElementException => None }

  /** The version's recorded bloom-sidecar policy (None = no policy —
    * tables predating the feature or written without `bloomCols`).
    */
  def bloomColumns(spark: SparkSession, warehouseDir: String,
      table: String, asOf: Option[Int] = None): Option[Seq[String]] =
    try headersOf(spark, warehouseDir, table, asOf).get("bloomcols")
      .map(_.split(",").toSeq)
    catch { case _: java.util.NoSuchElementException => None }

  /** The version's recorded NDV-sketch policy (None = no policy —
    * tables predating the feature or written without `ndvCols`).
    */
  def ndvColumns(spark: SparkSession, warehouseDir: String,
      table: String, asOf: Option[Int] = None): Option[Seq[String]] =
    try headersOf(spark, warehouseDir, table, asOf).get("ndvcols")
      .map(_.split(",").toSeq)
    catch { case _: java.util.NoSuchElementException => None }

  /** The wall-clock a version committed at (epoch millis; None for
    * pre-r8 manifests). Informational + the input to [[versionAtTime]];
    * version NUMBERS are the authoritative order.
    */
  def commitTimestamp(spark: SparkSession, warehouseDir: String,
      table: String, asOf: Option[Int] = None): Option[Long] =
    try headersOf(spark, warehouseDir, table, asOf).get("ts").map(_.toLong)
    catch { case _: java.util.NoSuchElementException => None }

  /** TIMESTAMP-based time travel: the newest version whose recorded
    * commit clock is ≤ `tsMillis` — "the table as of last midnight"
    * without knowing version numbers (the Delta `timestampAsOf` shape).
    * None when every version is newer (or the table predates `#ts`
    * stamps). Commit clocks come from each committer's wall clock:
    * monotonic under a single committer, subject to ordinary clock
    * skew across concurrent committers — the answer is always a REAL
    * committed version, skew only shifts which one a boundary
    * timestamp resolves to. Scan is the version list's headers (k
    * small files, newest-first, stops at the first hit).
    */
  def versionAtTime(spark: SparkSession, warehouseDir: String,
      table: String, tsMillis: Long): Option[Int] =
    listVersions(spark, warehouseDir, table).reverse.find(v =>
      commitTimestamp(spark, warehouseDir, table, Some(v))
        .exists(_ <= tsMillis))

  /** [[read]] at [[versionAtTime]] — loud when no version is that old
    * (reading "before the table existed" is a caller bug, not an empty
    * relation).
    */
  def readAsOfTime(spark: SparkSession, warehouseDir: String,
      table: String, tsMillis: Long): DataFrame =
    read(spark, warehouseDir, table, Some(
      versionAtTime(spark, warehouseDir, table, tsMillis).getOrElse(
        throw new java.util.NoSuchElementException(
          s"$table has no version committed at or before $tsMillis"))))

  // ── CHECK constraints ─────────────────────────────────────────────

  /** The version's CHECK constraints: name → SQL boolean expression
    * (standard-SQL semantics — a row violates only when the expression
    * is FALSE; NULL passes).
    */
  def checks(spark: SparkSession, warehouseDir: String, table: String,
      asOf: Option[Int] = None): Map[String, String] =
    try parseChecks(headersOf(spark, warehouseDir, table, asOf))
    catch { case _: java.util.NoSuchElementException => Map.empty }

  private def parseChecks(hdr: Map[String, String]): Map[String, String] =
    hdr.get("checks").map(_.split(";").toSeq.map { part =>
      val Array(n, e) = part.split("=", 2)
      n -> valueOf1(e)
    }.toMap).getOrElse(Map.empty)

  private def renderChecks(cs: Map[String, String]): String =
    cs.toSeq.sortBy(_._1)
      .map { case (n, e) => s"$n=${keyOf1(e)}" }.mkString(";")

  /** ADD (or replace) a CHECK constraint as a metadata-only commit:
    * from this version on, every delta-shaped write ([[writeDelta]],
    * [[mergeVersioned]], compaction) rejects BEFORE staging any bytes
    * if a row evaluates the expression to FALSE — the write-boundary
    * contract that keeps a 100 TB table's invariants true by
    * construction instead of by audit. Standard-SQL semantics: NULL
    * passes (`c IS NOT NULL` is the not-null form). Constraints ride
    * the headers like the schema (deltas inherit, [[restore]] restores
    * the target version's, a FULL rewrite defines the table and drops
    * them — re-set after).
    *
    * `validate` (default true) scans the CURRENT snapshot and refuses
    * to adopt a constraint existing rows already violate (the Delta
    * `ADD CONSTRAINT` scan); pass false to skip the scan when the
    * invariant is known to hold — new writes are enforced either way.
    */
  def setCheck(spark: SparkSession, warehouseDir: String, table: String,
      name: String, sqlExpr: String, validate: Boolean = true): Int = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"check name must be [A-Za-z0-9_]+: $name")
    spark.sessionState.sqlParser.parseExpression(sqlExpr) // fail fast
    if (validate) {
      val bad = read(spark, warehouseDir, table)
        .filter(expr(sqlExpr) <=> lit(false)).limit(1).count()
      require(bad == 0L,
        s"existing rows of $table violate CHECK '$name' ($sqlExpr)")
    }
    commitMerged(spark, warehouseDir, table, identity,
      headersFor = baseHdr => baseHdr - "note" +
        ("checks" -> renderChecks(parseChecks(baseHdr) + (name -> sqlExpr))))
  }

  /** Drop a CHECK constraint (metadata-only commit; unknown names are
    * loud — silently "dropping" a typo would leave the real constraint
    * enforced against the caller's belief).
    */
  def dropCheck(spark: SparkSession, warehouseDir: String, table: String,
      name: String): Int =
    commitMerged(spark, warehouseDir, table, identity,
      headersFor = baseHdr => {
        val cur = parseChecks(baseHdr)
        require(cur.contains(name), s"$table has no CHECK named '$name'")
        val rest = cur - name
        if (rest.isEmpty) baseHdr - "note" - "checks"
        else baseHdr - "note" + ("checks" -> renderChecks(rest))
      })

  /** Enforce the head's checks on a delta BEFORE it stages: one
    * combined pass over the delta in the clean case (short-circuit
    * `limit(1)`), a per-check pass only on violation (to name the
    * culprit). The delta is first conformed to the base schema —
    * columns it legitimately omits (additive evolution) surface as
    * NULL, which passes, exactly as the written files will read back.
    */
  private def enforceChecks(spark: SparkSession, warehouseDir: String,
      table: String, delta: DataFrame, genDerived: Boolean = false): Unit = {
    val carried =
      if (genDerived) Nil
      else generatedColumns(spark, warehouseDir, table)
        .filter(s => delta.columns.contains(s.genCol))
    val declared = checks(spark, warehouseDir, table)
    if (carried.isEmpty && declared.isEmpty) return // the common fast path
    val conformed = manifestSchema(spark, warehouseDir, table)
      .map(_.fields.filterNot(f => delta.columns.contains(f.name))
        .foldLeft(delta)((d, f) =>
          d.withColumn(f.name, lit(null).cast(f.dataType))))
      .getOrElse(delta)
    // implicit transform checks: a batch CARRYING a generated column
    // must agree with its declared transform row-for-row — a wrong
    // provided value would silently break read-time derived pruning,
    // so it gates here with the declared CHECKs (same single job).
    // Evaluated over the CONFORMED frame: a delta carrying the
    // generated column while OMITTING the source sees the source as
    // the NULL the written files will read back, so a provided
    // non-null value with no source to derive it from rejects loudly
    // (the null-in-null-out invariant read-time pruning relies on)
    // instead of committing a genCol the transform cannot explain.
    // NULL source ⇒ NULL generated passes (<=> of two NULLs is true);
    // batches we derived ourselves pass trivially.
    val gen: Map[String, (Column, String)] =
      carried.collect {
        case s if conformed.columns.contains(s.src) =>
          val t = conformed.schema.fields.find(_.name == s.src).get.dataType
          s"generated:${s.genCol}" ->
            ((col(s.genCol) <=> GenCols.mkColumn(s, t)),
              s"${s.genCol} <=> ${s.fn}(${s.src})")
      }.toMap
    val cs: Map[String, (Column, String)] =
      declared.map { case (n, e) => n -> ((expr(e), e)) } ++ gen
    if (cs.isEmpty) return
    val anyBad = cs.values.map { case (e, _) => e <=> lit(false) }
      .reduce(_ || _)
    if (conformed.filter(anyBad).limit(1).count() > 0L) {
      val culprit = cs.find { case (_, (e, _)) =>
        conformed.filter(e <=> lit(false)).limit(1).count() > 0L
      }.get
      throw new IllegalArgumentException(
        s"CHECK constraint '${culprit._1}' (${culprit._2._2}) rejected " +
          s"a row appending to $table — nothing was staged or committed")
    }
  }

  /** Free-form header values (caller notes, mostly) are written
    * VERBATIM into the line-oriented manifest — a value containing a
    * line break would split into a bogus entry line and brick every
    * subsequent read of the table head (loadManifest's field split
    * throws). Rejected loudly at render time (defense in depth — the
    * write paths also fail fast before staging any bytes); a TAB in a
    * VALUE is fine (header parse splits on the first TAB only), but a
    * TAB in a KEY would shift the value, so keys are gated too.
    */
  private def checkHeaderText(headers: Map[String, String]): Unit =
    headers.foreach { case (k, v) =>
      require(!k.exists(c => c == '\n' || c == '\r' || c == '\t'),
        s"manifest header key '$k' contains a tab or line break")
      require(!v.exists(c => c == '\n' || c == '\r'),
        s"manifest header '$k' value contains a line break — it would " +
          "corrupt the manifest (hex-encode structured payloads instead)")
    }

  private def render(headers: Map[String, String],
      m: Map[String, Entry]): String = {
    checkHeaderText(headers)
    val hs = headers.toSeq.sortBy(_._1)
      .map { case (k, v) => s"#$k\t$v\n" }.mkString
    hs + m.toSeq.sortBy(_._1).map { case (k, e) =>
      val fields = Seq(k, e.dir, e.deletes.mkString(","),
        ZoneMaps.renderStats(e.stats),
        if (e.rows >= 0) e.rows.toString else "",
        e.bloom.getOrElse(""),
        if (e.bytes >= 0) e.bytes.toString else "")
      // trailing empty fields trim away (r7-format-identical for plain
      // entries; split(-1) parsing tolerates any prefix length)
      fields.reverse.dropWhile(_.isEmpty).reverse.mkString("\t")
    }.mkString("\n")
  }

  // ── reads ─────────────────────────────────────────────────────────

  /** Scan `dirs` under the version's RECORDED schema (additive-evolution
    * safe: a partition written before a widening surfaces the later
    * columns as NULL; no per-file mergeSchema cost, no sample-file
    * schema roulette).
    */
  /** Field-metadata key carrying a renamed column's PHYSICAL (on-disk)
    * name — set once by [[renameColumn]] and constant forever after
    * (further renames re-point the logical name at the same physical
    * one), so every generation of every version stores the column
    * under one stable name. Absent = logical and physical coincide
    * (the common case; a full rewrite drops all mappings by design —
    * it rewrites every file under the current logical names).
    */
  private[io] val PhysicalKey = "graft.physical"

  private[io] def physicalOf(f: StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  private def hasMapping(schema: Option[StructType]): Boolean =
    schema.exists(_.fields.exists(f => physicalOf(f) != f.name))

  /** Re-key PHYSICAL-named zone stats (what staging records — it sees
    * the staged files) under the schema's LOGICAL names, so every
    * stats consumer (zone pruning, columnRanges, nullCount) speaks the
    * user's names across renames. Identity when no column is mapped.
    */
  private def logicalStats(stats: Map[String, ColRange],
      schema: Option[StructType]): Map[String, ColRange] =
    if (!hasMapping(schema)) stats
    else {
      val m = schema.get.fields.iterator
        .map(f => physicalOf(f) -> f.name).toMap
      stats.map { case (k, v) => (m.getOrElse(k, k), v) }
    }

  private def readDirs(spark: SparkSession, base: Path,
      schema: Option[StructType], dirs: Seq[String]): DataFrame = {
    val paths = dirs.sorted.map(rel => new Path(base, rel).toString)
    schema match {
      case Some(sch) => spark.read.schema(sch).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** Read a set of entries applying their delete vectors merge-on-read:
    * DV-free partitions stream through a plain scan; partitions with
    * vectors anti-join their (tiny, broadcastable) delete dirs on
    * (partition key, key column). One scan + no join in the common
    * dv-free case — the hot path's plan is unchanged by the feature.
    */
  private def readEntries(spark: SparkSession, warehouseDir: String,
      table: String, asOf: Option[Int], entries: Seq[Entry],
      fileSel: Map[String, Seq[String]] = Map.empty): DataFrame = {
    val base = root(warehouseDir, table)
    val (headers, _) = loadManifest(fsOf(spark, base),
      manifestPath(base, resolve(spark, warehouseDir, table, asOf)))
    readEntriesWith(spark, base, table, headers, entries, fileSel)
  }

  /** [[readEntries]] over an already-loaded version's headers — the
    * entries and the schema/dvkey they are read under come from ONE
    * manifest, so no commit landing between two resolutions can pair
    * one version's files with another's schema.
    */
  private def readEntriesWith(spark: SparkSession, base: Path, table: String,
      headers: Map[String, String], entries: Seq[Entry],
      fileSel: Map[String, Seq[String]] = Map.empty): DataFrame = {
    val schema = headers.get("schema")
      .map(DataType.fromJson(_).asInstanceOf[StructType])
    // COLUMN MAPPING (renameColumn): files store renamed columns under
    // their stable PHYSICAL names — read under the physical schema,
    // then project to the logical names. Identity when nothing is
    // mapped (the hot path's plan is unchanged by the feature).
    val readSchema = schema.map(s => StructType(s.fields.map(f =>
      StructField(physicalOf(f), f.dataType, f.nullable))))
    def toLogical(df: DataFrame): DataFrame =
      if (!hasMapping(schema)) df
      else df.select(schema.get.fields.toSeq.map(f =>
        col(physicalOf(f)).as(f.name)): _*)
    // a fileSel entry replaces its generation DIR with an explicit FILE
    // list (readWhere's per-file pruning); absent dirs scan whole
    def expand(e: Entry): Seq[String] = fileSel.get(e.dir)
      .map(_.map(f => s"${e.dir}/$f")).getOrElse(Seq(e.dir))
    val (dirty, clean) = entries.partition(_.deletes.nonEmpty)
    val cleanDf =
      if (clean.isEmpty) None
      else Some(toLogical(
        readDirs(spark, base, readSchema, clean.flatMap(expand))))
    val dirtyDf =
      if (dirty.isEmpty) None
      else {
        val keyCol = headers.getOrElse("dvkey", throw new IllegalStateException(
          s"$table has delete vectors but no recorded #dvkey header"))
        val partCols = headers.getOrElse("partcols",
          throw new IllegalStateException(
            s"$table has delete vectors but no recorded #partcols header"))
          .split(",").toSeq
        val df = toLogical(
          readDirs(spark, base, readSchema, dirty.flatMap(expand)))
        val dv = spark.read.parquet(
            dirty.flatMap(_.deletes).distinct.sorted
              .map(rel => new Path(base, rel).toString): _*)
          .select(col("__dv_part"), col(keyCol).as("__dv_key"))
        Some(df.join(dv,
          keyExpr(partCols) === col("__dv_part") &&
            col(keyCol) <=> col("__dv_key"),
          "left_anti"))
      }
    (cleanDf, dirtyDf) match {
      case (Some(c), Some(d)) => c.unionAll(d)
      case (Some(c), None) => c
      case (None, Some(d)) => d
      case (None, None) =>
        // an EMPTY version (e.g. a full rewrite that dropped every
        // partition): the empty relation under the recorded schema
        schema match {
          case Some(sch) => spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
          case None => throw new IllegalArgumentException(
            "empty version with no recorded schema — nothing to read")
        }
    }
  }

  /** Read a committed version — the union of its manifest's immutable
    * partition dirs minus their delete vectors (current version when
    * `asOf` is None).
    */
  def read(spark: SparkSession, warehouseDir: String, table: String,
      asOf: Option[Int] = None): DataFrame = {
    // the version resolves ONCE (one listing when `asOf` is None) and
    // its manifest loads once: entries and schema are the same commit's
    val base = root(warehouseDir, table)
    val (headers, entries) = loadManifest(fsOf(spark, base),
      manifestPath(base, resolve(spark, warehouseDir, table, asOf)))
    readEntriesWith(spark, base, table, headers, entries.values.toSeq)
  }

  /** MANIFEST-pruned read of specific partition values: only the named
    * partitions' dirs are listed or scanned — metadata-level pruning
    * that never touches the rest of the table (stronger than directory
    * or footer pruning: the planner never even sees the other files).
    */
  def readPartitions(spark: SparkSession, warehouseDir: String,
      table: String, values: Seq[String],
      asOf: Option[Int] = None): DataFrame =
    readPartitionsMulti(spark, warehouseDir, table, values.map(Seq(_)), asOf)

  /** Multi-column twin of [[readPartitions]]: each element of `values`
    * is one partition's per-column value tuple.
    */
  def readPartitionsMulti(spark: SparkSession, warehouseDir: String,
      table: String, values: Seq[Seq[String]],
      asOf: Option[Int] = None): DataFrame = {
    val m = manifestEntries(spark, warehouseDir, table, asOf)
    val picked = values.map(keyOf(_)).distinct.flatMap(m.get)
    require(picked.nonEmpty,
      s"none of the requested partitions exist in $table: $values")
    readEntries(spark, warehouseDir, table, asOf, picked)
  }

  /** ZONE-MAP-pruned read: drop every partition whose recorded
    * per-column min/max DISPROVES `preds` (conjunction), scan the rest,
    * and apply the equivalent row filter. Pruning is metadata-only (no
    * listing of pruned partitions) and strictly conservative — missing
    * stats, unparseable bounds, or pre-stats manifests keep the
    * partition, and the residual filter guarantees the result equals
    * `read(...).filter(preds)` regardless of what pruned.
    */
  def readWhere(spark: SparkSession, warehouseDir: String, table: String,
      preds: Seq[ZonePred], asOf: Option[Int] = None): DataFrame = {
    require(preds.nonEmpty, "readWhere needs at least one predicate")
    val schema = manifestSchema(spark, warehouseDir, table, asOf)
    def dtOf(c: String) = schema.flatMap(_.fields.find(_.name == c))
      .map(_.dataType)
    val residual = preds
      .map(p => ZoneMaps.toColumn(p, dtOf(p.column))).reduce(_ && _)
    val (scan, pruned) = readPruned(spark, warehouseDir, table, preds, asOf)
    if (pruned) scan.filter(residual).limit(0) else scan.filter(residual)
  }

  /** [[readWhere]] for NATIVE `Column` predicates — the API most
    * callers should use: the prunable conjuncts are extracted
    * ([[ZoneMaps.fromColumn]] — attribute-vs-literal comparisons, IN,
    * IS [NOT] NULL under top-level ANDs) and drive the full
    * zone → bloom → file pruning stack, while the ORIGINAL Column is
    * applied verbatim as the row filter — so arbitrary residual logic
    * (ORs, UDF calls, attr-vs-attr terms) rides along untouched and an
    * extraction miss costs pruning opportunity, never correctness.
    */
  def readFiltered(spark: SparkSession, warehouseDir: String, table: String,
      cond: Column, asOf: Option[Int] = None): DataFrame = {
    val (scan, pruned) = readPrunedOr(spark, warehouseDir, table,
      ZoneMaps.fromColumnOr(cond), asOf)
    if (pruned) scan.filter(cond).limit(0) else scan.filter(cond)
  }

  /** OR-aware [[readPruned]]: `branches` is a bounded DNF the caller's
    * predicate IMPLIES ([[ZoneMaps.fromColumnOr]]) and the pruned set
    * is the UNION of each branch's zone → bloom → file survivors — so
    * `(k BETWEEN a AND b) OR (k BETWEEN c AND d)` (the date-range-union
    * shape) scans two slivers instead of the whole table. Sound by the
    * same one-way argument as everything here: a row satisfying the
    * predicate satisfies SOME branch entirely, so its partition (and
    * file) survives that branch's pruning and thus the union; a `Nil`
    * branch (an unprunable arm) keeps everything, and the caller always
    * applies its own residual filter. Per-file selections union across
    * branches, a whole-dir verdict (no sidecar) winning over any list.
    */
  private[graft] def readPrunedOr(spark: SparkSession, warehouseDir: String,
      table: String, branches: Seq[Seq[ZonePred]],
      asOf: Option[Int] = None): (DataFrame, Boolean) = {
    if (branches.isEmpty || branches.exists(_.isEmpty))
      return (read(spark, warehouseDir, table, asOf), false)
    if (branches.size == 1)
      return readPruned(spark, warehouseDir, table, branches.head, asOf)
    val perBranch = branches.map(b =>
      readWhereFiles(spark, warehouseDir, table, b, asOf)
        .filter { case (_, _, sel) => sel.forall(_.nonEmpty) })
    val byKey = scala.collection.mutable.LinkedHashMap
      .empty[String, (Entry, Option[Set[String]])]
    perBranch.flatten.foreach { case (k, e, sel) =>
      val add: Option[Set[String]] = sel.map(_.toSet)
      byKey(k) = byKey.get(k) match {
        case None => (e, add)
        case Some((_, prev)) =>
          (e, for { a <- prev; b <- add } yield a ++ b)
      }
    }
    if (byKey.isEmpty) (read(spark, warehouseDir, table, asOf), true)
    else (readEntries(spark, warehouseDir, table, asOf,
      byKey.values.map(_._1).toSeq,
      byKey.values.collect { case (e, Some(fs)) =>
        e.dir -> fs.toSeq.sorted }.toMap),
      false)
  }

  /** The pruned-but-UNFILTERED scan for `preds` — the shared engine
    * under [[readWhere]], [[readFiltered]] and the SQL surface
    * ([[graft.plans.PruneGraftScans]]): zone → bloom → file pruning
    * applied, NO residual (the caller owns its own filter). Returns
    * (scan, everythingPruned) — when true the scan is the full table
    * (callers append `.limit(0)` after their filter: a read of zero
    * dirs cannot infer the schema).
    */
  private[graft] def readPruned(spark: SparkSession, warehouseDir: String,
      table: String, preds: Seq[ZonePred], asOf: Option[Int] = None)
      : (DataFrame, Boolean) = {
    if (preds.isEmpty)
      return (read(spark, warehouseDir, table, asOf), false)
    val kept = readWhereFiles(spark, warehouseDir, table, preds, asOf)
      .filter { case (_, _, sel) => sel.forall(_.nonEmpty) }
    if (kept.isEmpty) (read(spark, warehouseDir, table, asOf), true)
    else (readEntries(spark, warehouseDir, table, asOf, kept.map(_._2),
      kept.collect { case (_, e, Some(fsel)) => e.dir -> fsel }.toMap),
      false)
  }

  /** The per-FILE survivors of `preds` within the zone+bloom partition
    * survivors — [[readWhere]]'s finest pruning level, evaluated from
    * each surviving generation's `_filestats` sidecar with the SAME
    * conservative [[ZoneMaps.mayMatch]] the partition level uses. Per
    * entry: None = no sidecar (pre-sidecar generation — scan the whole
    * dir), Some(files) = scan exactly those (possibly empty: every file
    * individually disproved — the partition drops entirely). File-level
    * pruning earns its keep on CLUSTERED layouts ([[optimizeClustered]]
    * / [[optimizeZOrdered]]) where each file owns a narrow key slice;
    * on unclustered data every file spans the domain and the selection
    * degrades to all files, exactly the partition-level answer.
    */
  private[graft] def readWhereFiles(spark: SparkSession,
      warehouseDir: String, table: String, preds0: Seq[ZonePred],
      asOf: Option[Int] = None)
      : Seq[(String, Entry, Option[Seq[String]])] = {
    // hidden partitioning: source-column predicates imply generated-
    // column predicates (days(ts) & co), which the same zone/file
    // machinery prunes with — implied, so the caller's residual is
    // untouched and a derivation miss only costs pruning
    val preds = withGenPreds(spark, warehouseDir, table, preds0, asOf)
    val kept = readWhereEntriesBloom(spark, warehouseDir, table, preds, asOf)
    if (kept.isEmpty) return Nil
    val schema = manifestSchema(spark, warehouseDir, table, asOf)
    val base = root(warehouseDir, table)
    val fs = fsOf(spark, base)
    kept.map { case (k, e) =>
      val sel = readFileStats(fs, base, e.dir).map(_.collect {
        case (f, st, _) if preds.forall(p =>
            ZoneMaps.mayMatch(logicalStats(st, schema), p, schema)) => f
      })
      (k, e, sel)
    }
  }

  /** The ZONE-MAP survivors of `preds` — the metadata-only (no Spark
    * job) half of [[readWhere]]'s pruning, exposed so tests and plan
    * audits can pin the pruned set.
    */
  private[graft] def readWhereEntries(spark: SparkSession,
      warehouseDir: String, table: String, preds: Seq[ZonePred],
      asOf: Option[Int] = None): Seq[(String, Entry)] = {
    val schema = manifestSchema(spark, warehouseDir, table, asOf)
    manifestEntries(spark, warehouseDir, table, asOf).toSeq.filter {
      case (_, e) => preds.forall(p =>
        ZoneMaps.mayMatch(logicalStats(e.stats, schema), p, schema))
    }
  }

  /** Zone survivors further pruned by BLOOM membership — what
    * [[readWhere]] actually scans. An equality/IN predicate on a
    * bloom-policied column drops every surviving partition whose
    * sidecar proves none of the probe values live there (the
    * point-lookup case zone ranges cannot decide for scattered keys).
    * Gates, each conservatively keeping the zone set: the column under
    * policy, every non-null probe literal's type EXACTLY the recorded
    * column type, and a bounded probe list. NULL probe members drop
    * first (every [[ZonePred]] is null-rejecting); an all-null Eq/IN
    * keeps the zone verdict and lets the residual filter speak.
    */
  private[graft] def readWhereEntriesBloom(spark: SparkSession,
      warehouseDir: String, table: String, preds: Seq[ZonePred],
      asOf: Option[Int] = None): Seq[(String, Entry)] = {
    val kept = readWhereEntries(spark, warehouseDir, table, preds, asOf)
    val policy = bloomColumns(spark, warehouseDir, table, asOf)
      .getOrElse(Nil)
    if (policy.isEmpty || kept.isEmpty) return kept
    val schema = manifestSchema(spark, warehouseDir, table, asOf)
    preds.foldLeft(kept) { (cand, p) =>
      val probeVals = p match {
        case ZoneEq(_, v) => Seq(v).filter(_ != null)
        case ZoneIn(_, vs) => vs.filter(_ != null)
        case _ => Nil
      }
      val field = schema.flatMap(_.fields.find(_.name == p.column))
      (probeVals, field) match {
        case (vs, Some(f))
            if cand.nonEmpty && vs.nonEmpty && vs.size <= 1000 &&
              policy.contains(p.column) &&
              vs.forall(BloomSidecar.literalMatches(_, f.dataType)) =>
          val probe = spark.createDataFrame(
            java.util.Arrays.asList(
              vs.map(v => org.apache.spark.sql.Row(v)): _*),
            StructType(Seq(StructField(p.column, f.dataType))))
          val surv = BloomSidecar.prune(spark, root(warehouseDir, table),
            cand, p.column, probe).toSet
          cand.filter { case (k, _) => surv(k) }
        case _ => cand
      }
    }
  }

  // ── staging ───────────────────────────────────────────────────────

  /** Stage `df`'s partitions as immutable generation dirs: ONE
    * partitioned write job to a unique staging dir, then a metadata-only
    * rename per partition into `parts/<key>/<uuid>`, plus one
    * delta-sized stats pass recording each staged partition's zone map.
    * Under a bloom policy (`bloomCols` nonempty) one more delta-sized
    * aggregation stages each partition's bloom sidecar into
    * `blooms/<key>/<gen>` ([[BloomSidecar]]). The partition columns
    * stay in the data files (the helper `__pv` hex column is what
    * `partitionBy` consumes and drops). Returns key → entry.
    */
  private def stagePartitions(df: DataFrame, base: Path, fs: FileSystem,
      partCols: Seq[String], bloomCols: Seq[String],
      ndvCols: Seq[String] = Nil): Map[String, Entry] = {
    val gen = java.util.UUID.randomUUID().toString.take(12)
    val stage = new Path(base, s"._stage.$gen")
    // Manifest-owned generations stamp timestamps as TIMESTAMP_MICROS for
    // the duration of the staged write (restored after): Spark's default
    // INT96 is deprecated, carries NO usable chunk statistics (so the
    // footer-based stats below would have to drop every timestamp column
    // from the zone maps), and every modern reader takes INT64 micros.
    // Values are identical on read; scope is THIS write only, so the
    // verify dump surface (whose parquet types the oracle compare is
    // sensitive to) is untouched. A concurrent writer racing the restore
    // can at worst stage one write under INT96 — it loses timestamp
    // pruning stats for that generation, never correctness.
    val conf = df.sparkSession.conf
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = conf.get(tsKey)
    conf.set(tsKey, "TIMESTAMP_MICROS")
    try df.withColumn("__pv", keyExpr(partCols))
      .write.mode("overwrite").partitionBy("__pv").parquet(stage.toString)
    finally conf.set(tsKey, prevTs)
    val staged = fs.listStatus(stage).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("__pv="))
    if (staged.isEmpty) { // empty delta: zero partitions staged
      fs.delete(stage, true)
      return Map.empty
    }
    // partition columns INCLUDED in the stats (min=max=the value, in the
    // column's real type): readWhere then prunes on a partition-column
    // predicate through the same typed zone-map path — no string-decode
    // special case for the key. Collected per FILE (same single job,
    // one grouping level finer): the partition entry folds from the
    // file ranges, and the per-file ranges persist as a `_filestats`
    // sidecar INSIDE the generation dir (hidden from parquet scans by
    // the `_` convention, immutable and swept/restored with the dir
    // for free) — readWhere then prunes FILES within surviving
    // partitions, the granularity a clustered layout makes selective.
    // file-level stats come from the parquet FOOTERS the write just
    // produced (driver-side metadata reads) — not a second Spark job
    // re-scanning the staged delta; see [[ZoneMaps.fileStatsFromFooters]]
    // for the ordering-fidelity argument (footer comparators ≡ Spark
    // min/max orderings, truncation stays a sound bound)
    val fileStats = ZoneMaps.fileStatsFromFooters(
      df.sparkSession, stage, df.schema.fields.toSeq)
    val stats = fileStats.map { case (k, fss) =>
      k -> ZoneMaps.foldFileStats(fss, df.schema.fields.toSeq)
    }
    // NDV policy: one more delta-sized aggregation staging each
    // partition's KMV distinct sketches (see [[NdvSidecar]])
    val ndvStats: Map[String, Seq[(String, Seq[Long])]] =
      if (ndvCols.isEmpty) Map.empty
      else NdvSidecar.stage(df.sparkSession, stage.toString, ndvCols)
    val bloomed: Set[String] =
      if (bloomCols.isEmpty) Set.empty
      else {
        val bloomStage = new Path(base, s"._bstage.$gen")
        val keys = BloomSidecar.stageBlooms(df.sparkSession, stage.toString,
          bloomStage.toString, bloomCols, df.schema,
          stats.map { case (k, (_, n)) => k -> BloomSidecar.sizeFor(n) })
        keys.foreach { key =>
          val src = new Path(bloomStage, s"__pv=$key")
          val dest = new Path(base, s"blooms/$key/$gen")
          fs.mkdirs(dest.getParent)
          if (!fs.rename(src, dest))
            throw new java.io.IOException(s"bloom stage failed: $src -> $dest")
        }
        fs.delete(bloomStage, true)
        keys
      }
    val entries = staged
      .map { src =>
        val key = src.getName.stripPrefix("__pv=")
        val dest = new Path(base, s"parts/$key/$gen")
        fs.mkdirs(dest.getParent)
        if (!fs.rename(src, dest))
          throw new java.io.IOException(s"partition stage failed: $src -> $dest")
        // the per-file ranges (and, under policy, the NDV sketches)
        // ride inside the generation dir — written BEFORE the manifest
        // commit makes the dir visible, so the sidecars are as
        // immutable as the data; a write failure only costs pruning /
        // a NULL stat (absent sidecar = scan the dir / unknown)
        fileStats.get(key).foreach(fss =>
          writeFileStats(fs, dest, fss))
        ndvStats.get(key).foreach { perCol =>
          val out = fs.create(new Path(dest, "_ndv"), true)
          try out.write(NdvSidecar.render(perCol).getBytes("UTF-8"))
          finally out.close()
        }
        val (st, n) = stats.getOrElse(key, (Map.empty[String, ColRange], -1L))
        // record the generation's DATA byte size (underscore sidecars
        // excluded) — one listing at STAGE time buys zero-listing size
        // stats for every future query (joinWithStats, SQL Statistics)
        val gbytes = fs.listStatus(dest).toSeq
          .filter(s => !s.getPath.getName.startsWith("_"))
          .map(_.getLen).sum
        key -> Entry(s"parts/$key/$gen", Nil, st, n,
          bloom = if (bloomed(key)) Some(s"blooms/$key/$gen") else None,
          bytes = gbytes)
      }.toMap
    fs.delete(stage, true)
    entries
  }

  /** Write one generation dir's `_filestats` sidecar: one line per
    * parquet file basename — row count + zone-map field
    * ([[ZoneMaps.renderStats]]). Written BEFORE the manifest commit
    * makes the dir visible, so a committed generation always carries a
    * COMPLETE sidecar (a crash mid-write only orphans the whole staged
    * dir) — the completeness invariant read-time file pruning relies on.
    */
  private def writeFileStats(fs: FileSystem, genDir: Path,
      fss: Seq[(String, Map[String, ColRange], Long)]): Unit = {
    val out = fs.create(new Path(genDir, "_filestats"), true)
    try out.write(fss.map { case (f, st, n) =>
      s"$f\t$n\t${ZoneMaps.renderStats(st)}"
    }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Parse a generation dir's `_filestats` sidecar; None when absent or
    * unreadable (pre-sidecar generations) — file-level pruning silently
    * degrades to scanning the whole dir.
    */
  private[graft] def readFileStats(fs: FileSystem, base: Path, dir: String)
      : Option[Seq[(String, Map[String, ColRange], Long)]] =
    try {
      val p = new Path(new Path(base, dir), "_filestats")
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val content =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        Some(content.split("\n").toSeq.filter(_.nonEmpty).map { line =>
          val Array(f, n, st) = line.split("\t", 3)
          (f, ZoneMaps.parseStats(st), n.toLong)
        })
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  // ── commit loop ───────────────────────────────────────────────────

  /** Commit a manifest derived from the current one via the OCC loop:
    * base on the committed head, try the next number, on a lost race
    * re-read the NEW head and re-derive. `merge` receives the base
    * entries (empty for a first version) and returns the full new entry
    * map; `headersFor` receives the base headers and returns the new
    * version's headers — both are re-evaluated per attempt against the
    * live head, so a lost race can never drop a concurrent commit's
    * partitions OR its schema widening. `check` runs against the live
    * base entries BEFORE merging and may throw
    * [[ConcurrentWriteConflictException]] — the read-modify-write
    * paths' conflict detection (their staged work derives from a pinned
    * snapshot; if the live head moved a touched partition, re-committing
    * would be a lost update, so the whole derivation must re-run).
    */
  private def commitMerged(spark: SparkSession, warehouseDir: String,
      table: String, merge: Map[String, Entry] => Map[String, Entry],
      headersFor: Map[String, String] => Map[String, String],
      check: Map[String, Entry] => Unit = _ => ()): Int = {
    val base = root(warehouseDir, table)
    val fs = fsOf(spark, base)
    val MaxAttempts = 1000
    var attempt = 0
    while (attempt < MaxAttempts) {
      val cur = currentVersion(spark, warehouseDir, table)
      val (baseHdr, baseMan) = cur
        .map(v => loadManifest(fs, manifestPath(base, v)))
        .getOrElse((Map.empty[String, String], Map.empty[String, Entry]))
      check(baseMan)
      val next = cur.getOrElse(0) + 1
      // every commit stamps its wall-clock (`#ts`, epoch millis) for
      // timestamp-based time travel — recorded HERE so every write
      // path gets it and a restore cannot accidentally copy the
      // restored version's clock. Never trusted for ordering (version
      // numbers are the order); versionAtTime only requires ts to be
      // roughly monotonic for its answer to be meaningful, and
      // documents the skew caveat.
      val hdr = headersFor(baseHdr) +
        ("ts" -> System.currentTimeMillis().toString)
      if (commitFile(fs, base, manifestPath(base, next),
          render(hdr, merge(baseMan))))
        return next
      attempt += 1
    }
    throw new java.io.IOException(
      s"manifest commit lost $MaxAttempts version races in a row: $base")
  }

  /** Atomically publish `content` as `target` iff `target` does not
    * exist — the commit primitive, delegated to [[CommitProtocol]]: the
    * target name never exists without its COMPLETE content (hard-link on
    * local filesystems, write-then-rename-no-overwrite elsewhere — the
    * pre-r8 create-then-write stream left a torn window where a reader
    * observed an empty head manifest and the next merge silently based
    * itself on an empty map), a lost race is signalled ONLY by the
    * target existing, and any other IOException (permissions, quota,
    * network) rethrows immediately instead of burning 1000 "races".
    * See [[CommitProtocol]] for the per-substrate atomicity matrix and
    * the object-store adapter seam.
    */
  private def commitFile(fs: FileSystem, base: Path, target: Path,
      content: String): Boolean = {
    val won = CommitProtocol.publish(fs, base, target, content)
    if (won) {
      // commit BREADCRUMB for streaming subscribers: Spark's file
      // sources ignore `_`-prefixed names (hidden-file convention), so
      // the manifest itself is invisible to a readStream glob; a tiny
      // visible marker under commits/ is what manifestCommitStream
      // watches. Best-effort AFTER the real commit (a discovered version
      // is always readable); a crash in between leaves a gap that the
      // NEXT commit's marker heals, because the change-feed fold spans
      // the whole contiguous version range it discovers.
      val marker = new Path(base, s"commits/${target.getName.stripPrefix("_")}")
      try {
        fs.mkdirs(marker.getParent)
        CommitProtocol.publish(fs, base, marker, target.getName)
      } catch { case _: java.io.IOException => () }
    }
    won
  }

  /** The engine's shared safe-widening lattice
    * ([[graft.core.SchemaGuard.widens]]) — value-exact pairs only, so
    * recorded zone/file stat tokens stay sound across a widening.
    */
  private def widens(a: DataType, b: DataType): Boolean =
    graft.core.SchemaGuard.widens(a, b)

  /** ADDITIVE schema merge for delta commits: new columns append
    * (nullable — old files surface them as NULL); common columns keep
    * their type or WIDEN along the safe lattice ([[widens]] — either
    * direction: a wider delta widens the recorded schema and older
    * generations read up through the parquet reader's native widening;
    * a narrower delta stages files the wider recorded schema reads up
    * equally). Anything off the lattice — renames, narrowing,
    * float→double, string↔anything — rejects loudly (the SchemaGuard
    * contract — silent coercion is a policy decision, not a default).
    * All recorded fields normalize to nullable: any partition may
    * predate any column.
    */
  private def mergedSchema(base: StructType, delta: StructType,
      what: String): StructType = {
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val deltaMap = delta.fields.map(f => f.name -> f).toMap
    val baseMap = base.fields.map(f => f.name -> f).toMap
    val common = base.fields.map { b =>
      deltaMap.get(b.name) match {
        case Some(f) if DataType.equalsStructurally(
            b.dataType, f.dataType, ignoreNullability = true) => b
        case Some(f) if widens(b.dataType, f.dataType) =>
          b.copy(dataType = f.dataType)
        case Some(f) if widens(f.dataType, b.dataType) => b
        case Some(f) if b.dataType == FloatType &&
            f.dataType == DoubleType =>
          throw new IllegalArgumentException(
            s"float->double widening of ${b.name} in $what is not " +
              "supported in place: float stat tokens do not bound the " +
              "widened double values, so pre-widening generations could " +
              "prune wrongly — rewrite the table (writeFull) under the " +
              "double schema instead")
        case Some(f) =>
          throw new IllegalArgumentException(
            s"retyped column appending to $what: " +
              s"${b.name} ${b.dataType.simpleString} -> ${f.dataType.simpleString} " +
              "(not additive evolution and not a safe widening)")
        case None => b
      }
    }
    // a NEW column may not take a name that is the PHYSICAL storage
    // name of a renamed column — staged files would carry two columns
    // under one on-disk name and reads could not tell them apart
    val reserved = base.fields.collect {
      case f if physicalOf(f) != f.name => physicalOf(f) -> f.name
    }.toMap
    delta.fields.filterNot(f => baseMap.contains(f.name)).foreach(f =>
      reserved.get(f.name).foreach(l => throw new IllegalArgumentException(
        s"column name '${f.name}' in $what is reserved as the physical " +
          s"storage name of renamed column '$l' — pick another name, or " +
          "writeFull to rebase physical names")))
    StructType(
      (common ++ delta.fields.filterNot(f => baseMap.contains(f.name)))
        .map(_.copy(nullable = true)))
  }

  private def nullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  /** Enforce that a write's partition columns match the table's
    * recorded ones — partition layout is a table property, not a
    * per-write choice (a mismatch would scatter one logical partition
    * across incompatible key spaces).
    */
  private def checkPartCols(baseHdr: Map[String, String],
      partCols: Seq[String], table: String): Unit =
    baseHdr.get("partcols").foreach { rec =>
      require(rec == partCols.mkString(","),
        s"$table is partitioned by ($rec); writes must use the same " +
          s"columns, got (${partCols.mkString(",")})")
    }

  // ── writes ────────────────────────────────────────────────────────

  /** Write every partition of `df` as a new version (bootstrap or full
    * rewrite). Partitions absent from `df` are DROPPED from the new
    * version (full-snapshot semantics); they remain in history.
    *
    * A full rewrite DEFINES the table's layout, so `partCols` may
    * differ from the previous versions' — PARTITION EVOLUTION without
    * downtime or a side table: each version's manifest records its own
    * `#partcols`, older versions keep reading (and partition-pruning)
    * under their recorded layout, and only delta-shaped writes
    * ([[writeDelta]], [[mergeVersioned]], [[deleteRows]]) must match
    * the CURRENT head's layout.
    */
  def writeFull(spark: SparkSession, warehouseDir: String, table: String,
      df: DataFrame, partCol: String, bloomCols: Seq[String] = Nil,
      ndvCols: Seq[String] = Nil): Int =
    writeFullMulti(spark, warehouseDir, table, df, Seq(partCol), bloomCols,
      ndvCols)

  /** CONVERT an existing hive-partitioned parquet directory into a
    * manifest table WITHOUT copying or rewriting a byte — the
    * `CONVERT TO DELTA` onboarding shape: version 1's manifest simply
    * REFERENCES the source's leaf directories (relative `../…` paths,
    * the same foreign-reference mechanism [[cloneTable]] uses), so a
    * 100 TB lake adopts MVCC, pruning and the DML surface for the cost
    * of one directory listing. Writes after the convert stage native
    * generations; compaction/OPTIMIZE localizes converted partitions
    * and adds the zone/file stats the convert cannot know (converted
    * entries carry NO stats and NO row counts — pruning and metadata
    * aggregates degrade conservatively until then, honestly).
    *
    * Layout contract, checked loudly:
    *  - `dirCols` names the hive directory levels
    *    (`<dirCols(0)>=<v0>/<dirCols(1)>=<v1>/…`), `partCols` the
    *    IN-FILE columns recorded as the table's partition layout —
    *    usually the same names, but a source written with a duplicated
    *    helper column (partitionBy consumes its column) may differ;
    *  - the data files MUST carry `partCols` (checked against one leaf
    *    file's footer): the engine's readers and merge paths address
    *    partitions through in-file values, and a hive-only source
    *    (values living solely in dir names) would read them as NULL —
    *    rewrite such a source with [[writeFull]] instead;
    *  - hive-escaped dir values (`%xx`) decode; the
    *    `__HIVE_DEFAULT_PARTITION__` null marker rejects (partition
    *    addressing is value-keyed);
    *  - `validate = true` additionally scans each leaf and proves the
    *    in-file values equal the dir value (one column-pruned pass
    *    over the source; default false — trust the layout, documented).
    *
    * The SOURCE stays authoritative for its own lifecycle: vacuum on
    * the converted table never sweeps foreign dirs (they are not under
    * its `parts/` tree), and deleting the source breaks the converted
    * generations exactly like breaking a clone's source — the
    * [[cloneTable]] caveat applies verbatim.
    */
  def convertTable(spark: SparkSession, warehouseDir: String,
      table: String, srcDir: String, partCols: Seq[String],
      dirCols: Seq[String] = Nil, validate: Boolean = false): Int = {
    require(partCols.nonEmpty, "convertTable needs partition columns")
    val levels = if (dirCols.nonEmpty) dirCols else partCols
    require(levels.size == partCols.size,
      "dirCols must name exactly one hive level per partition column")
    require(currentVersion(spark, warehouseDir, table).isEmpty,
      s"$table already exists under $warehouseDir — convert bootstraps " +
        "version 1 only")
    val base = root(warehouseDir, table)
    val fs = fsOf(spark, base)
    val src = fs.makeQualified(new Path(srcDir))
    require(fs.exists(src), s"source directory does not exist: $src")
    // walk the hive levels, collecting (values, leafPath)
    // hive's escapePathName encoding: '%xx' hex pairs; anything
    // malformed passes through verbatim (conservative — a literal '%'
    // in a value that was never escaped stays a literal '%')
    def unescape(s: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '%' && i + 2 < s.length &&
            s.substring(i + 1, i + 3).forall(c =>
              Character.digit(c, 16) >= 0)) {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } else { sb.append(s.charAt(i)); i += 1 }
      }
      sb.toString
    }
    def leaves(p: Path, depth: Int, acc: Seq[String])
        : Seq[(Seq[String], Path)] =
      if (depth == levels.size) Seq((acc, p))
      else fs.listStatus(p).toSeq.filter(_.isDirectory)
        .filterNot(_.getPath.getName.startsWith("_"))
        .flatMap { st =>
          val n = st.getPath.getName
          val pre = levels(depth) + "="
          require(n.startsWith(pre),
            s"unexpected directory '$n' at hive level ${depth + 1} of " +
              s"$src — expected '${pre}<value>' (pass dirCols when the " +
              "source's level names differ from the partition columns)")
          val v = unescape(n.stripPrefix(pre))
          require(v != "__HIVE_DEFAULT_PARTITION__",
            s"null partition value at $n — manifest partitions are " +
              "value-keyed; rewrite null-partition rows with writeFull")
          leaves(st.getPath, depth + 1, acc :+ v)
        }
    val found = leaves(src, 0, Nil)
    require(found.nonEmpty, s"no hive partition directories under $src")
    // in-file partition columns, checked against one leaf's footer
    val leafSchema = spark.read.parquet(found.head._2.toString).schema
    val missing = partCols.filterNot(leafSchema.fieldNames.contains)
    require(missing.isEmpty,
      s"the source files do not carry partition column(s) " +
        s"${missing.mkString(", ")} in-file (hive-only values) — the " +
        "engine addresses partitions through in-file values; rewrite " +
        "with writeFull instead of converting in place")
    if (validate)
      found.foreach { case (vs, p) =>
        val distinct = spark.read.parquet(p.toString)
          .select(partCols.map(c => col(c).cast("string").as(c)): _*)
          .distinct().collect()
        require(distinct.length == 1 &&
          partCols.indices.forall(i => distinct(0).getString(i) == vs(i)),
          s"in-file partition values of $p do not match its hive dir " +
            s"(${vs.mkString("/")}) — the layout lies; rewrite with " +
            "writeFull")
      }
    // relative reference from the table root to each leaf (same
    // filesystem required — a manifest line is a path, not a URI)
    val baseQ = fs.makeQualified(base)
    require(baseQ.toUri.getScheme == src.toUri.getScheme &&
      baseQ.toUri.getAuthority == src.toUri.getAuthority,
      s"source $src and table root $baseQ live on different " +
        "filesystems — convert requires one")
    def relativize(to: Path): String = {
      val f = baseQ.toUri.getPath.split("/").filter(_.nonEmpty)
      val t = to.toUri.getPath.split("/").filter(_.nonEmpty)
      val common = f.zip(t).takeWhile { case (a, b) => a == b }.length
      ("../" * (f.length - common)) + t.drop(common).mkString("/")
    }
    fs.mkdirs(base)
    val entries = found.map { case (vs, p) =>
      val bytes = fs.listStatus(p).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
        .map(_.getLen).sum
      keyOf(vs) -> Entry(relativize(p), Nil, Map.empty, -1L, None, bytes)
    }.toMap
    commitMerged(spark, warehouseDir, table, _ => entries,
      headersFor = _ => Map(
        "schema" -> nullable(leafSchema).json,
        "partcols" -> partCols.mkString(","),
        "note" -> s"converted in place from $src"))
  }

  /** `bloomCols` sets the table's BLOOM POLICY (like the partition
    * layout, a full rewrite defines it): every staged partition — this
    * one and every subsequent delta/merge/compaction — records a bloom
    * sidecar over the named columns, and key-locate probes prune
    * through them ([[BloomSidecar]]). Empty (the default) drops any
    * previous policy; existing sidecars in history stay readable.
    * `ndvCols` is the NDV-SKETCH policy with identical lifecycle
    * ([[NdvSidecar]], consumed by [[columnNdv]]).
    */
  /** `dropProperties`: property keys to REMOVE atomically in this same
    * full-load commit. User properties deliberately survive rewrites
    * (they are table metadata, not data), but a property DERIVED from
    * the data — `graft.mergeKey` when the rewrite drops the key column
    * — must not outlive the shape that made it true: leaving it in
    * place would defer the error to the first SQL DML that resolves a
    * nonexistent key. A separate unsetTableProperties commit would
    * leave a window where the stale pair is live.
    */
  def writeFullMulti(spark: SparkSession, warehouseDir: String,
      table: String, df0: DataFrame, partCols: Seq[String],
      bloomCols: Seq[String] = Nil, ndvCols: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty,
      dropProperties: Seq[String] = Nil): Int = {
    val base = root(warehouseDir, table)
    val fs = fsOf(spark, base)
    fs.mkdirs(base)
    if (properties.nonEmpty) checkPropKeys(properties)
    // the effective generated-column declarations: survivors of the
    // current head (properties are durable) layered with the call's
    // own — derive what df omits, then validate specs against the
    // schema the rewrite DEFINES
    val genSpecs = GenCols.parse(
      (try tableProperties(spark, warehouseDir, table)
       catch { case scala.util.control.NonFatal(_) =>
         Map.empty[String, String] }) -- dropProperties ++ properties)
    val df = applyGenerated(spark, df0, genSpecs, recorded = None)
    GenCols.validate(genSpecs, df.schema)
    // a rewrite that PROVIDES a generated column verifies it against
    // the transform (derived ones are consistent by construction) — a
    // wrong stored value would poison every future derived prune
    val provided = genSpecs.filter(s =>
      df0.columns.contains(s.genCol) && df0.columns.contains(s.src))
    if (provided.nonEmpty) {
      val anyBad = provided.map { s =>
        val t = df0.schema.fields.find(_.name == s.src).get.dataType
        (col(s.genCol) <=> GenCols.mkColumn(s, t)) <=> lit(false)
      }.reduce(_ || _)
      require(df.filter(anyBad).limit(1).count() == 0L,
        s"a provided generated column of $table disagrees with its " +
          "declared transform — nothing was staged or committed")
    }
    val entries = stagePartitions(df, base, fs, partCols, bloomCols, ndvCols)
    // full rewrite: the recorded schema is df's own (a full snapshot may
    // legitimately DROP columns); existing delete vectors die with the
    // partitions they applied to, so the dvkey header is dropped too.
    // User PROPERTIES survive — they are table metadata, not data
    // (Delta's stance) — with `properties` layered on top
    val dropKeys = dropProperties.map(k => s"prop.$k").toSet
    commitMerged(spark, warehouseDir, table, _ => entries,
      headersFor = baseHdr =>
        baseHdr.view.filterKeys(k =>
          k.startsWith("prop.") && !dropKeys.contains(k)).toMap ++
          Map("schema" -> nullable(df.schema).json,
            "partcols" -> partCols.mkString(",")) ++
          (if (bloomCols.isEmpty) Map.empty
           else Map("bloomcols" -> bloomCols.mkString(","))) ++
          (if (ndvCols.isEmpty) Map.empty
           else Map("ndvcols" -> ndvCols.mkString(","))) ++
          properties.map { case (k, v) => s"prop.$k" -> v })
  }

  // ── user table properties (durable metadata) ──────────────────────

  private def checkPropKeys(props: Map[String, String]): Unit = {
    props.keys.foreach(k => require(k.nonEmpty &&
      !k.exists(c => c == '\n' || c == '\r' || c == '\t'),
      s"table property key '$k' is empty or contains tab/line breaks"))
    checkHeaderText(props.map { case (k, v) => s"prop.$k" -> v })
  }

  /** User TABLE PROPERTIES, stored as `prop.<key>` manifest headers —
    * durable with the table (they survive full rewrites and travel
    * with every version), not with any session. The `graft.mergeKey`
    * property is the conventional home of the DML/stream merge key
    * ([[graft.plans.GraftSqlTables.registerAll]] recovers it).
    */
  def tableProperties(spark: SparkSession, warehouseDir: String,
      table: String, asOf: Option[Int] = None): Map[String, String] =
    headersOf(spark, warehouseDir, table, asOf).collect {
      case (k, v) if k.startsWith("prop.") => k.stripPrefix("prop.") -> v
    }

  // ── generated partition columns (see [[GenCols]]) ─────────────────

  /** The table's declared generated-column transforms (durable
    * `graft.generated.*` properties — they travel with clones and
    * survive full rewrites like every property).
    */
  def generatedColumns(spark: SparkSession, warehouseDir: String,
      table: String, asOf: Option[Int] = None): Seq[GenCols.GenSpec] =
    try GenCols.parse(tableProperties(spark, warehouseDir, table, asOf))
    catch { case _: java.util.NoSuchElementException => Nil }

  /** Derive every declared generated column a batch OMITS (the write
    * paths all call this before touching partition values); a batch
    * that carries the column is left alone — [[enforceChecks]]'s
    * implicit transform check verifies it row-for-row in the same
    * pre-staging gate. Instant-typed calendar transforms require a UTC
    * session LOUDLY (a non-UTC writer would store values disagreeing
    * with the UTC-fixed definition and poison every future prune).
    *
    * `recorded`: the table's schema the batch lands in. The source is
    * conformed to the type its rows will be STORED at before the
    * transform runs — the recorded type, or the batch's own when it
    * widens the recorded one ([[graft.core.Merge.alignedUnion]]'s rule)
    * — so a batch whose key inferred narrower (`int` into `long`) or
    * as another family (`int` into `string`) derives the bucket its
    * stored rows carry. None (a full rewrite) = the batch's own types.
    */
  private def applyGenerated(spark: SparkSession, df: DataFrame,
      specs: Seq[GenCols.GenSpec], recorded: Option[StructType])
      : DataFrame =
    specs.foldLeft(df) { (d, s) =>
      val srcType = d.schema.fields.find(_.name == s.src).map(_.dataType)
      srcType match {
        case Some(own) =>
          val t = recorded.flatMap(_.fields.find(_.name == s.src))
            .map(_.dataType)
            .filterNot(r => graft.core.SchemaGuard.widens(r, own))
            .getOrElse(own)
          require(!GenCols.tzSensitive(s, t) || GenCols.utcSession(spark),
            s"generated column ${s.genCol} = ${s.fn}(${s.src}) is " +
              "defined in UTC but the session timezone is " +
              s"'${spark.sessionState.conf.sessionLocalTimeZone}' — set " +
              "spark.sql.session.timeZone=UTC (the engine-wide contract)")
          if (d.columns.contains(s.genCol)) d
          else d.withColumn(s.genCol, GenCols.mkColumn(s, t,
            if (DataType.equalsStructurally(own, t, ignoreNullability = true))
              col(s.src)
            else col(s.src).cast(t)))
        case None => d // source omitted too (additive evolution) — the
        // generated column reads NULL like any omitted column
      }
    }

  /** `preds` plus every [[ZonePred]] they IMPLY through the table's
    * generated-column transforms — the hidden-partitioning payoff: a
    * raw-source predicate prunes on the generated (usually partition)
    * column's zone stats. Non-UTC reader sessions decline tz-sensitive
    * derivations (conservative; [[GenCols.derivedPreds]]).
    */
  private def withGenPreds(spark: SparkSession, warehouseDir: String,
      table: String, preds: Seq[ZonePred], asOf: Option[Int])
      : Seq[ZonePred] = {
    val specs = generatedColumns(spark, warehouseDir, table, asOf)
    if (specs.isEmpty) preds
    else preds ++ GenCols.derivedPreds(specs,
      manifestSchema(spark, warehouseDir, table, asOf), preds,
      deriveTz = GenCols.utcSession(spark))
  }

  /** SET TBLPROPERTIES — an O(1) metadata commit layering `props` over
    * the existing ones (same-key overwrite, ANSI).
    */
  /** `expectProps` (per OCC attempt, same semantics as the write
    * paths'): each named property must still hold the expected value
    * on the LIVE head or the commit aborts with
    * [[ConcurrentPropertyConflictException]] — the metadata-only
    * spelling of COPY INTO's watermark expectation, used when a batch
    * of fresh files carries ZERO rows (nothing to append, but the
    * watermark must still advance exactly once under concurrency).
    */
  /** Verify property expectations against a LIVE head's headers — per
    * OCC attempt, shared by every commit path that takes
    * `expectProps` ([[setTableProperties]], [[writeDeltaInternal]]).
    * A moved property means a concurrent committer already consumed
    * the same inputs; deliberately NOT a retryable write conflict
    * (re-staging the same rows IS the duplication being prevented) —
    * the statement must re-read and re-derive.
    */
  private def checkExpectProps(table: String,
      baseHdr: Map[String, String],
      expectProps: Map[String, Option[String]]): Unit =
    expectProps.foreach { case (k, exp) =>
      val live = baseHdr.get(s"prop.$k")
      if (live != exp)
        throw new ConcurrentPropertyConflictException(
          s"table property '$k' of $table moved (expected " +
            s"${exp.getOrElse("<absent>")}, live " +
            s"${live.getOrElse("<absent>")}) between read and " +
            "commit — a concurrent committer advanced it; re-read " +
            "the property and re-derive the inputs")
    }

  def setTableProperties(spark: SparkSession, warehouseDir: String,
      table: String, props: Map[String, String], note: String = "",
      expectProps: Map[String, Option[String]] = Map.empty): Int = {
    require(props.nonEmpty, "SET TBLPROPERTIES needs at least one property")
    checkPropKeys(props)
    require(currentVersion(spark, warehouseDir, table).isDefined,
      s"$table has no committed version to alter")
    if (note.nonEmpty) checkHeaderText(Map("note" -> note))
    // generated-column declarations validate against the recorded
    // schema BEFORE they become durable — a bad spec adopted silently
    // would reject every future write (or worse, skip derivation)
    if (props.keys.exists(_.startsWith(GenCols.Prefix)))
      manifestSchema(spark, warehouseDir, table).foreach { sch =>
        GenCols.validate(GenCols.parse(
          tableProperties(spark, warehouseDir, table) ++ props), sch)
      }
    commitMerged(spark, warehouseDir, table, identity,
      headersFor = baseHdr => {
        checkExpectProps(table, baseHdr, expectProps)
        baseHdr - "note" ++
          props.map { case (k, v) => s"prop.$k" -> v } ++
          (if (note.isEmpty) Map.empty[String, String]
           else Map("note" -> note))
      })
  }

  /** UNSET TBLPROPERTIES — the removing twin; `ifExists` tolerates
    * absent keys (and an all-absent call burns no version).
    */
  def unsetTableProperties(spark: SparkSession, warehouseDir: String,
      table: String, keys: Seq[String], ifExists: Boolean = false,
      note: String = ""): Int = {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES needs at least one key")
    val headV = currentVersion(spark, warehouseDir, table).getOrElse(
      throw new java.util.NoSuchElementException(
        s"$table has no committed version to alter"))
    if (note.nonEmpty) checkHeaderText(Map("note" -> note))
    val cur = tableProperties(spark, warehouseDir, table)
    val missing = keys.filterNot(cur.contains)
    require(ifExists || missing.isEmpty,
      s"no such table propert${if (missing.size == 1) "y" else "ies"} " +
        s"on $table: ${missing.mkString(", ")}")
    if (keys.forall(!cur.contains(_))) return headV
    commitMerged(spark, warehouseDir, table, identity,
      headersFor = baseHdr => baseHdr - "note" --
        keys.map(k => s"prop.$k") ++
        (if (note.isEmpty) Map.empty[String, String]
         else Map("note" -> note)))
  }

  /** Commit a new version REPLACING only the partitions present in
    * `delta` (plus dropping `dropParts`); every other partition of the
    * current version is REUSED by reference — zero new bytes. The
    * partition-replace contract matches `writeWarehousePartitioned`'s
    * dynamic overwrite: `delta` must carry each touched partition's
    * FULL intended content (accordingly, a replaced partition's delete
    * vectors FOLD — the new generation starts clean).
    */
  def writeDelta(spark: SparkSession, warehouseDir: String, table: String,
      delta: DataFrame, partCol: String, dropParts: Seq[String] = Nil,
      note: String = ""): Int =
    writeDeltaMulti(spark, warehouseDir, table, delta, Seq(partCol),
      dropParts.map(Seq(_)), note)

  /** PREDICATE-SCOPED atomic overwrite — the backfill primitive
    * (Delta's `replaceWhere`): every row satisfying `cond` is replaced
    * by `batch`, in ONE commit, touching ONLY the partitions the
    * predicate could live in ([[readPrunedOr]]'s zone → bloom → file
    * pruning decides the candidate set off the manifest — a date-range
    * backfill of a 100 TB table lists and rewrites the date's sliver,
    * never the table). Untouched candidates' rows that do NOT satisfy
    * `cond` are carried over verbatim; candidates left EMPTY drop;
    * partitions the batch introduces are created.
    *
    * Guards: every batch row must itself satisfy `cond` (replacing
    * "March" with rows from April would silently corrupt the
    * NON-replaced remainder's complement invariant — loud reject, the
    * Delta contract). Concurrency: expectation-carrying commit over
    * the candidate set + re-run from the new head on conflict, like
    * every read-modify-write here. Returns (touched partition values,
    * committed version).
    */
  def replaceWhere(spark: SparkSession, warehouseDir: String,
      table: String, cond: Column, batch: DataFrame,
      note: String = ""): (Seq[Seq[String]], Int) = {
    // fixed batch frame: drift expectation pins to the ENTRY schema,
    // and a column-mapping conflict aborts loudly (see appendRows)
    val entrySchema = manifestSchema(spark, warehouseDir, table)
    val MaxConflicts = 50
    var attempt = 0
    while (true) {
      val baseV = currentVersion(spark, warehouseDir, table).getOrElse(
        throw new java.util.NoSuchElementException(
          s"$table has no committed version to replace into"))
      try return replaceWhereAt(spark, warehouseDir, table, baseV, cond,
        batch, note, entrySchema)
      catch {
        case e: SchemaMappingConflictException =>
          val ex = new SchemaMappingConflictException(
            s"replaceWhere on $table aborted: ${e.getMessage} (the " +
              "batch frame is fixed — re-derive it and run again)")
          ex.initCause(e)
          throw ex
        case _: ConcurrentWriteConflictException =>
          attempt += 1
          if (attempt >= MaxConflicts)
            throw new java.io.IOException(
              s"replaceWhere lost $MaxConflicts conflicts in a row on " +
                s"$table — a livelocked peer?")
      }
    }
    sys.error("unreachable")
  }

  private def replaceWhereAt(spark: SparkSession, warehouseDir: String,
      table: String, baseV: Int, cond: Column, batch0: DataFrame,
      note: String, expectSchema0: Option[StructType] = None)
      : (Seq[Seq[String]], Int) = {
    val partCols = partitionColumns(spark, warehouseDir, table,
      Some(baseV)).getOrElse(throw new IllegalStateException(
        s"$table records no #partcols header — replaceWhere needs it"))
    val recorded = manifestSchema(spark, warehouseDir, table, Some(baseV))
    val batch = applyGenerated(spark, batch0,
      generatedColumns(spark, warehouseDir, table, Some(baseV)), recorded)
    // every batch row must satisfy the predicate it replaces under
    require(batch.filter(!coalesce(cond, lit(false))).limit(1)
        .count() == 0L,
      s"replaceWhere batch for $table contains rows NOT satisfying the " +
        "predicate — they would silently widen the replaced scope")
    val baseEntries = manifestEntries(spark, warehouseDir, table,
      Some(baseV))
    val partTuple: DataFrame => DataFrame = df =>
      df.select(partCols.map(c => col(c).cast("string").as(c)): _*)
        .distinct()
    val batchParts: Set[Seq[String]] = partTuple(batch).collect()
      .map(r => partCols.indices.map(r.getString): Seq[String]).toSet
    // candidate partitions whose EXISTING rows must be carried: the
    // zone/bloom survivors of the predicate (conservative: unprunable
    // keeps everything) PLUS every existing partition the batch lands
    // in — a batch row entering a partition the pruning excluded would
    // otherwise replace it without carrying its rows
    // extract prunable branches from the RESOLVED predicate (the
    // analyzer route accepts both DSL Columns and expr()-parsed text;
    // ColumnNode-walk extraction only sees the former)
    val branches = read(spark, warehouseDir, table, Some(baseV))
      .filter(cond).queryExecution.analyzed
      .collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          ZoneMaps.fromExpressionOr(f.condition)
      }.getOrElse(ZoneMaps.fromColumnOr(cond))
    val pruned: Set[String] =
      if (branches.isEmpty || branches.exists(_.isEmpty))
        baseEntries.keySet.toSet
      else branches.flatMap(b =>
        readWhereEntries(spark, warehouseDir, table, b, Some(baseV))
          .map(_._1)).toSet
    val candidates: Seq[String] = (pruned ++
      batchParts.map(keyOf).filter(baseEntries.contains)).toSeq.sorted
    val keep =
      if (candidates.isEmpty)
        read(spark, warehouseDir, table, Some(baseV)).limit(0)
      else readPartitionsMulti(spark, warehouseDir, table,
        candidates.map(partValuesOf), Some(baseV))
        .filter(!coalesce(cond, lit(false)))
    // touched partitions the stage writes nothing for are the emptied
    // ones, dropped in the same commit
    val merged = graft.core.Merge.alignedUnion(keep, batch)
    val touched = (candidates.map(partValuesOf).toSet ++ batchParts).toSeq
    val expected = touched.map(v => keyOf(v) -> baseEntries.get(keyOf(v)))
      .toMap
    (touched,
      writeDeltaInternal(spark, warehouseDir, table, merged,
        partCols, dropParts = Nil, note = note,
        expect = Some(expected),
        expectSchema = expectSchema0.orElse(recorded),
        dropIfEmpty = touched))
  }

  def writeDeltaMulti(spark: SparkSession, warehouseDir: String,
      table: String, delta: DataFrame, partCols: Seq[String],
      dropParts: Seq[Seq[String]] = Nil, note: String = ""): Int =
    writeDeltaInternal(spark, warehouseDir, table, delta, partCols,
      dropParts, note, expect = None)

  /** [[writeDeltaMulti]] plus an EXPECTATION for the read-modify-write
    * callers: `expect` maps each touched key to the entry the caller's
    * derivation was based on (None = the key did not exist then); if
    * the live head disagrees for any of them, the commit aborts with
    * [[ConcurrentWriteConflictException]] — committing staged dirs
    * derived from a superseded snapshot would silently drop the
    * concurrent committer's rows.
    */
  /** Column-mapping drift between the schema a read-modify-write
    * derivation was pinned to and the live head: every (logical name →
    * physical name) pair of the expectation must still exist verbatim
    * in the live schema. Additive evolution and type widening preserve
    * the pairs (they COMMUTE with a pinned derivation by design);
    * a RENAME remaps a pair and a DROP removes one — either means the
    * staged delta speaks a superseded column language, and committing
    * it would at best explode on the physical-name reservation and at
    * worst resurrect a dropped column, so the caller must re-derive.
    * Returns the lost pairs, empty = no drift.
    */
  private def mappingDrift(expected: StructType,
      live: Option[StructType]): Seq[String] = {
    val livePairs = live.toSeq
      .flatMap(_.fields.map(f => (f.name, physicalOf(f)))).toSet
    expected.fields.toSeq.map(f => (f.name, physicalOf(f)))
      .filterNot(livePairs.contains)
      .map { case (l, p) => if (l == p) l else s"$l(phys $p)" }
  }

  /** Throw [[SchemaMappingConflictException]] if [[mappingDrift]] finds
    * lost pairs — the one check-and-throw shared by the fail-fast and
    * the per-OCC-attempt site (two verbatim copies WILL drift apart).
    */
  private def checkMappingDrift(table: String, expected: StructType,
      live: Option[StructType]): Unit = {
    val lost = mappingDrift(expected, live)
    if (lost.nonEmpty) throw new SchemaMappingConflictException(
      s"column(s) ${lost.mkString(", ")} of $table were renamed or " +
        "dropped since the base snapshot this write derived from; " +
        "re-derive from the new head")
  }

  /** `expectSchema`: the recorded schema (at the caller's pinned base
    * version) the delta's COLUMN NAMES were derived under. A rename or
    * drop landing between that snapshot and this commit is detected as
    * [[ConcurrentWriteConflictException]] — checked fail-fast against
    * the head visible now AND per OCC attempt against the live head
    * (schema-only commits move no partition entry, so the `expect`
    * entry check alone cannot see them; found by the two-writer model
    * check racing RENAME COLUMN against MERGE).
    *
    * `dropIfEmpty`: partitions to drop exactly when the delta stages
    * NOTHING for them — the caller's touched set, whose emptied members
    * are then read off the stage's own entries instead of a separate
    * pass over the delta. `genDerived`: every generated column the
    * delta carries was derived in-engine from its source (or from
    * stored rows that were), so the row-for-row transform verification
    * — a full extra pass over the delta — is skipped; declared CHECKs
    * still gate.
    */
  private def writeDeltaInternal(spark: SparkSession, warehouseDir: String,
      table: String, delta0: DataFrame, partCols: Seq[String],
      dropParts: Seq[Seq[String]], note: String,
      expect: Option[Map[String, Option[Entry]]],
      extraProps: Map[String, String] = Map.empty,
      expectProps: Map[String, Option[String]] = Map.empty,
      expectSchema: Option[StructType] = None,
      dropIfEmpty: Seq[Seq[String]] = Nil,
      genDerived: Boolean = false): Int = {
    if (extraProps.nonEmpty) checkPropKeys(extraProps)
    val base = root(warehouseDir, table)
    val fs = fsOf(spark, base)
    require(currentVersion(spark, warehouseDir, table).isDefined,
      s"writeDelta needs an existing version of $table — bootstrap with writeFull")
    // fail fast on a manifest-corrupting note BEFORE any staging bytes
    // (render would reject it too, but only after the write job ran)
    if (note.nonEmpty) checkHeaderText(Map("note" -> note))
    // fail FAST on a retype against the schema visible now (before any
    // staging bytes are written); the commit loop re-merges against the
    // live head per attempt, so a concurrent widening is never dropped
    // and a concurrent retype conflict still aborts loudly mid-loop
    val headSchema = manifestSchema(spark, warehouseDir, table)
    // declared generated columns the batch omits derive here (a caller
    // partitioning by days(ts) never computes the day itself), from the
    // source at the type it is stored at; carried ones verify in the
    // enforceChecks gate below
    val genSpecs = generatedColumns(spark, warehouseDir, table)
    val delta = applyGenerated(spark, delta0, genSpecs, headSchema)
    // ... and faster still on column-mapping drift: a rename/drop that
    // committed since the caller's base snapshot makes the delta's
    // names stale — a CONFLICT (re-derive), not a schema error
    expectSchema.foreach(checkMappingDrift(table, _, headSchema))
    headSchema.foreach { b =>
      val m = mergedSchema(b, delta.schema, table)
      // a hash-derived generated column (keybucket) stored under the old
      // type would no longer match the rows of the same keys at the new
      // one — a keyed merge would miss them and keep both versions
      val badGen = genSpecs.filter(g =>
        b.fieldNames.contains(g.src) &&
          !GenCols.hashStable(g, b(g.src).dataType, m(g.src).dataType))
      require(badGen.isEmpty,
        s"cannot widen ${badGen.map(_.src).distinct.mkString(",")} of " +
          s"$table in place: ${badGen.map(g => s"${g.genCol} = " +
            s"${g.fn}(${g.src})").mkString(", ")} hashes the stored " +
          "type, so existing rows would keep buckets their keys no " +
          "longer hash to — rewrite (writeFull) under the new type")
    }
    // conform the delta UP to the merged recorded schema BEFORE staging:
    // staged parquet files — and, critically, the hash sidecars derived
    // from them (bloom/NDV, which hash the STAGED physical type) — must
    // carry the recorded type. Without this, a NARROWER-typed delta on
    // a policied column (int under a long recorded schema — mergedSchema
    // accepts it, the files read up natively) would build an
    // xxhash64(int) sidecar that probes hashed at the recorded long type
    // never match: a partition actually holding the probed key would be
    // wrongly bloom-pruned — silently missing rows and silently skipped
    // locate-deletes. Widening casts are value-exact, so zone tokens,
    // CHECK evaluation and row content are unchanged.
    val staged = headSchema.map { b =>
      val types = mergedSchema(b, delta.schema, table)
        .fields.map(f => f.name -> f.dataType).toMap
      // fast path: the overwhelmingly common delta already sits at the
      // recorded types — skip the conform-up Project entirely (an
      // all-pass-through select still costs an extra analyzed node in
      // EVERY write job; the r10 bench drift on state-write queries
      // traced to exactly this kind of per-write overhead)
      if (delta.schema.fields.forall(f => DataType.equalsStructurally(
          f.dataType, types(f.name), ignoreNullability = true))) delta
      else delta.select(delta.schema.fields.toSeq.map { f =>
        if (DataType.equalsStructurally(f.dataType, types(f.name),
            ignoreNullability = true)) col(f.name)
        else col(f.name).cast(types(f.name)).as(f.name)
      }: _*)
    }.getOrElse(delta)
    // CHECK constraints gate here — before any staging bytes — so a
    // violating batch leaves no debris and no version
    enforceChecks(spark, warehouseDir, table, staged, genDerived)
    // COLUMN MAPPING: staged files store renamed columns under their
    // stable PHYSICAL names (schema/checks above speak logical; the
    // partition/bloom/NDV columns are rename-guarded, so their names
    // coincide). Zone stats are then recorded under physical names —
    // consistent with every pre-rename generation — and re-keyed
    // logical at read time (logicalStats).
    val physMap: Map[String, String] = headSchema
      .map(_.fields.collect {
        case f if physicalOf(f) != f.name => f.name -> physicalOf(f)
      }.toMap).getOrElse(Map.empty)
    val stagedPhys =
      if (physMap.isEmpty) staged
      else staged.select(staged.columns.toSeq.map(c =>
        col(c).as(physMap.getOrElse(c, c))): _*)
    // the bloom/ndv policies are the HEAD's (deltas inherit them like
    // the schema; a full rewrite is what changes them)
    val bloomPolicy = bloomColumns(spark, warehouseDir, table).getOrElse(Nil)
    val ndvPolicy = ndvColumns(spark, warehouseDir, table).getOrElse(Nil)
    val entries = stagePartitions(stagedPhys, base, fs, partCols,
      bloomPolicy, ndvPolicy)
    // TYPE-WIDENING sidecar maintenance: a widening of a BLOOM-policied
    // column is accepted by REBUILDING every live partition's sidecar
    // from its (cast-up) rows at the new recorded type — pre-widening
    // sidecars hashed the old physical type and would wrongly prune
    // probes hashed at the new one. Rebuilt sidecars land in NEW
    // generation dirs; old manifests keep referencing the old ones, so
    // time travel stays sound. Cost is one pass over each live bloomed
    // partition — O(table), paid exactly once, on the explicit widening
    // commit. NDV-policied widening needs NO rebuild when the widening
    // is RENDERING-STABLE (SchemaGuard.renderStable — the sketches hash
    // the STRING rendering, and "5" renders "5" at every integral
    // width): old sidecars stay exact verbatim. A rendering-CHANGING
    // widening (-> double renders "5.0"; decimal scale growth renders
    // "5.00" -> "5.000") still rejects: the sketches live INSIDE the
    // immutable generation dirs (rebuilding in place would corrupt
    // older versions' estimates) — drop the policy or rewrite.
    val widenedPairs: Seq[(String, DataType, DataType)] =
      headSchema.toSeq.flatMap { b =>
        val m = mergedSchema(b, staged.schema, table)
        b.fields.toSeq.flatMap(f =>
          m.fields.find(_.name == f.name).collect {
            case g if !DataType.equalsStructurally(f.dataType, g.dataType,
              ignoreNullability = true) => (f.name, f.dataType, g.dataType)
          })
      }
    val widenedNow: Seq[String] = widenedPairs.map(_._1)
    val badNdv = widenedPairs.collect {
      case (n, from, to) if ndvPolicy.contains(n) &&
        !graft.core.SchemaGuard.renderStable(from, to) => n
    }
    require(badNdv.isEmpty,
      s"cannot widen ${badNdv.mkString(",")} of $table in place: the " +
        "column is under an NDV policy, the widening changes string " +
        "renderings (the sketches hash cast-to-string), and the " +
        "sketches live inside immutable generation dirs (an in-place " +
        "rebuild would corrupt time travel) — drop the NDV policy " +
        "first, or rewrite (writeFull) under the new type")
    val rebuildCols = widenedNow.filter(bloomPolicy.contains)
    // entryKey -> (generation dir the rebuild read, new sidecar rel;
    // empty rel = every policy column all-NULL, entry drops its ref)
    val rebuilt: Map[String, (String, String)] =
      if (rebuildCols.isEmpty) Map.empty
      else {
        val mTypes = headSchema
          .map(b => mergedSchema(b, staged.schema, table).fields
            .map(f => f.name -> f.dataType).toMap).get
        manifestEntries(spark, warehouseDir, table).collect {
          case (k, e) if e.bloom.isDefined =>
            val rows0 = readEntries(spark, warehouseDir, table, None,
              Seq(e))
            val rows = rows0.select(rows0.columns.toSeq.map(c =>
              if (bloomPolicy.contains(c) && mTypes.contains(c))
                col(c).cast(mTypes(c)).as(c)
              else col(c)): _*)
            val rel = s"blooms/$k/${java.util.UUID.randomUUID()
              .toString.take(12)}"
            val ok = BloomSidecar.rebuildFor(spark, rows, bloomPolicy, k,
              BloomSidecar.sizeFor(e.rows.max(1L)), new Path(base, rel))
            k -> ((e.dir, if (ok) rel else ""))
        }.toMap
      }
    val dropKeys = dropParts.map(keyOf(_)).toSet ++
      dropIfEmpty.map(keyOf(_)).filterNot(entries.contains)
    commitMerged(spark, warehouseDir, table,
      baseMan => {
        val kept = baseMan -- dropKeys
        val swapped =
          if (rebuildCols.isEmpty) kept
          else kept.map { case (k, e) =>
            if (entries.contains(k)) k -> e // replaced by the delta below
            else rebuilt.get(k) match {
              case Some((oldDir, rel)) if oldDir == e.dir =>
                k -> e.copy(bloom = if (rel.isEmpty) None else Some(rel))
              case _ if e.bloom.isDefined =>
                // a live sidecar this widening did not rebuild (the
                // partition moved/appeared since the rebuild pass) —
                // committing would leave it hashed at the old type
                throw new ConcurrentWriteConflictException(
                  s"partition $k of $table changed while its bloom " +
                    "sidecar was being rebuilt for the type widening " +
                    s"of ${rebuildCols.mkString(",")}; re-derive from " +
                    "the new head")
              case _ => k -> e
            }
          }
        swapped ++ entries
      },
      headersFor = baseHdr => {
        checkExpectProps(table, baseHdr, expectProps)
        checkPartCols(baseHdr, partCols, table)
        // per-attempt mapping-drift check against the LIVE head: a
        // rename/drop is a schema-only commit (no partition entry
        // moves), so only this — never the `check` below — can see one
        // that landed between staging and this attempt
        expectSchema.foreach(checkMappingDrift(table, _,
          baseHdr.get("schema")
            .map(j => DataType.fromJson(j).asInstanceOf[StructType])))
        val sch = baseHdr.get("schema")
          .map(j => mergedSchema(
            DataType.fromJson(j).asInstanceOf[StructType], staged.schema,
            table))
          .getOrElse(nullable(staged.schema))
        // a column that ACTUALLY widened must not sit under a bloom/NDV
        // policy: the hash sidecars are type-sensitive (xxhash64 of an
        // int and of the same value as a long differ; md5-string of a
        // rescaled decimal differs), so probes hashed under the widened
        // head type against pre-widening sidecars would wrongly prune —
        // rejected here, per OCC attempt against the LIVE head's policy
        baseHdr.get("schema").foreach { j =>
          val baseSch = DataType.fromJson(j).asInstanceOf[StructType]
          val widenedP = baseSch.fields.toSeq.flatMap(b =>
            sch.fields.find(_.name == b.name).collect {
              case f if !DataType.equalsStructurally(
                  b.dataType, f.dataType, ignoreNullability = true) =>
                (b.name, b.dataType, f.dataType)
            })
          val widened = widenedP.map(_._1)
          val policiedNdv = baseHdr.get("ndvcols").toSeq
            .flatMap(_.split(",")).toSet
          val policiedBloom = baseHdr.get("bloomcols").toSeq
            .flatMap(_.split(",")).toSet
          val badN = widenedP.collect {
            case (n, from, to) if policiedNdv(n) &&
              !graft.core.SchemaGuard.renderStable(from, to) => n
          }
          require(badN.isEmpty,
            s"cannot widen ${badN.mkString(",")} of $table in place: " +
              "the column is under an NDV policy, the widening changes " +
              "string renderings, and the sketches live inside " +
              "immutable generation dirs — drop the NDV policy " +
              "first, or rewrite (writeFull) under the new type")
          // a BLOOM-policied widening is fine exactly when THIS commit
          // rebuilt the sidecars for it; a widening visible against the
          // live head that the rebuild pass did not plan for means a
          // concurrent retype — abort and re-derive
          val badB = widened.filter(c =>
            policiedBloom(c) && !rebuildCols.contains(c))
          if (badB.nonEmpty)
            throw new ConcurrentWriteConflictException(
              s"bloom-policied column(s) ${badB.mkString(",")} of " +
                s"$table widened concurrently (no sidecar rebuild was " +
                "planned for them in this commit); re-derive from the " +
                "new head")
          // and the STAGED files themselves must sit at the live merged
          // type on every policied column: the staged sidecars hashed
          // the staged physical type, so if a concurrent widening moved
          // the recorded type between our cast-up (pinned to the head
          // visible at staging) and this commit attempt, committing the
          // now-narrower sidecars would re-open the wrong-pruning hole
          // the cast-up closed — abort as a conflict (the RMW callers'
          // retry loops re-stage from the new head)
          val stagedTypes = staged.schema.fields
            .map(f => f.name -> f.dataType).toMap
          val stale = sch.fields.filter(f =>
            (policiedNdv(f.name) || policiedBloom(f.name)) &&
              !rebuildCols.contains(f.name) &&
              stagedTypes.get(f.name).exists(t =>
                !DataType.equalsStructurally(t, f.dataType,
                  ignoreNullability = true))).map(_.name)
          if (stale.nonEmpty)
            throw new ConcurrentWriteConflictException(
              s"policied column(s) ${stale.mkString(",")} of $table " +
                "widened concurrently between staging and commit — the " +
                "staged hash sidecars carry the superseded type; " +
                "re-derive from the new head")
        }
        baseHdr - "note" +
          ("schema" -> sch.json) + ("partcols" -> partCols.mkString(",")) ++
          (if (note.isEmpty) Map.empty else Map("note" -> note)) ++
          // properties a caller needs to advance ATOMICALLY with this
          // data commit (COPY INTO's source watermark: a crash between
          // a load and a separate property commit would re-load files)
          extraProps.map { case (k, v) => s"prop.$k" -> v }
      },
      check = live => expect.foreach(_.foreach { case (k, expected) =>
        if (live.get(k) != expected)
          throw new ConcurrentWriteConflictException(
            s"partition $k of $table changed since the base snapshot " +
              "this write derived from (concurrent merge/delete); " +
              "re-derive from the new head")
      }))
  }

  // ── row-level deletes (merge-on-read) ─────────────────────────────

  /** Commit ROW-LEVEL deletes as DELETE VECTORS — the merge-on-read
    * path for scattered deletes (GDPR erasure, late tombstones): each
    * touched partition's manifest entry gains a reference to a tiny
    * delete dir holding the deleted keys, and NO data partition is
    * rewritten — the night costs O(delete bytes), not O(touched
    * partition bytes). Reads apply the vectors as an anti-join
    * ([[readEntries]]); any later rewrite of the partition folds them.
    *
    * `deletes` carries one row per (partition, key) to delete (extra
    * columns ignored); keys absent from a partition are inert, and
    * partitions with no live manifest entry are skipped. The key column
    * is recorded in the manifest (`#dvkey`) and must stay the same
    * across all [[deleteRows]] calls on one table. Appending a vector
    * is a pure entry transform re-evaluated against the live head per
    * OCC attempt, so concurrent merges/deletes compose without a
    * conflict abort: whatever generation the partition holds at commit
    * time, removing the named keys from it is still the caller's
    * intent.
    *
    * @return (number of partitions that gained a vector, committed
    *         version)
    */
  def deleteRows(spark: SparkSession, warehouseDir: String, table: String,
      deletes: DataFrame, keyCol: String, partCols: Seq[String],
      note: String = ""): (Int, Int) = {
    val base = root(warehouseDir, table)
    val fs = fsOf(spark, base)
    require(currentVersion(spark, warehouseDir, table).isDefined,
      s"deleteRows needs an existing version of $table")
    if (note.nonEmpty) checkHeaderText(Map("note" -> note))
    deleteKeyColumn(spark, warehouseDir, table).foreach(rec =>
      require(rec == keyCol,
        s"$table's delete vectors are keyed on $rec; got $keyCol"))
    checkPartCols(headersOf(spark, warehouseDir, table, None), partCols,
      table)
    // cast the key to the TABLE's recorded type so the read-side
    // anti-join compares like with like
    val keyType = manifestSchema(spark, warehouseDir, table)
      .flatMap(_.fields.find(_.name == keyCol).map(_.dataType))
    val keyed = keyType.map(t => deletes.withColumn(keyCol,
      col(keyCol).cast(t))).getOrElse(deletes)
    val gen = java.util.UUID.randomUUID().toString.take(12)
    val stage = new Path(base, s"._dvstage.$gen")
    // __dv_part (retained hex key) + __pv (partitionBy helper, dropped)
    keyed
      .select((partCols.map(col) :+ col(keyCol)): _*).distinct()
      .withColumn("__dv_part", keyExpr(partCols))
      .withColumn("__pv", col("__dv_part"))
      .select("__pv", "__dv_part", keyCol)
      .write.mode("overwrite").partitionBy("__pv").parquet(stage.toString)
    val staged = fs.listStatus(stage).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("__pv="))
      .map { src =>
        val key = src.getName.stripPrefix("__pv=")
        val dest = new Path(base, s"deletes/$key/$gen")
        fs.mkdirs(dest.getParent)
        if (!fs.rename(src, dest))
          throw new java.io.IOException(s"dv stage failed: $src -> $dest")
        key -> s"deletes/$key/$gen"
      }.toMap
    fs.delete(stage, true)
    if (staged.isEmpty)
      return (0, currentVersion(spark, warehouseDir, table).get)
    var applied = 0
    val v = commitMerged(spark, warehouseDir, table,
      baseMan => {
        applied = staged.keys.count(baseMan.contains)
        staged.foldLeft(baseMan) { case (m, (k, rel)) =>
          m.get(k) match {
            case Some(e) => m + (k -> e.copy(deletes = e.deletes :+ rel))
            case None => m // no live partition: the delete is inert
          }
        }
      },
      headersFor = baseHdr => baseHdr - "note" + ("dvkey" -> keyCol) ++
        (if (note.isEmpty) Map.empty else Map("note" -> note)))
    (applied, v)
  }

  /** [[deleteRows]] from BARE keys — the GDPR reality: an erasure
    * request arrives as user ids, not (partition, id) pairs. The keys
    * LOCATE through the same zone+bloom machinery as the nightly
    * merge ([[locateCandidates]] — under a bloom policy on the key
    * column, the candidate scan is O(partitions actually holding a
    * key), not a full key-column pass), then one column-pruned
    * semi-join over just the candidate partitions resolves each key's
    * partition values and the result commits as ordinary delete
    * vectors. Keys living nowhere are inert, NULL keys are dropped
    * (a delete names concrete rows; the locate scan is metadata-thin
    * either way).
    *
    * CONCURRENCY window, documented honestly: the (key → partition)
    * resolution reads a snapshot, and the DV commit itself composes
    * conflict-free (a pure entry transform, re-evaluated per OCC
    * attempt — vectors apply by KEY, so a concurrently REWRITTEN
    * generation still hides the key). The one race a retry loop could
    * not close either: a concurrent merge MOVING a key to a partition
    * the locate did not name leaves the moved copy alive — erasure
    * pipelines re-run until a verification read shows zero hits,
    * which is the GDPR operational contract anyway.
    *
    * @param keys one column (named `keyCol`, or its first column is
    *        taken) of keys to erase everywhere they live
    * @return (number of partitions that gained a vector, committed
    *         version)
    */
  def deleteRowsLocate(spark: SparkSession, warehouseDir: String,
      table: String, keys: DataFrame, keyCol: String,
      note: String = ""): (Int, Int) = {
    require(currentVersion(spark, warehouseDir, table).isDefined,
      s"deleteRowsLocate needs an existing version of $table")
    val partCols = partitionColumns(spark, warehouseDir, table).getOrElse(
      throw new IllegalStateException(
        s"$table records no #partcols header — bare-key deletes need it"))
    val baseV = currentVersion(spark, warehouseDir, table).get
    val keyed0 = keys.select(
      (if (keys.columns.contains(keyCol)) col(keyCol)
       else col(keys.columns.head)).as(keyCol))
    // cast to the table's recorded key type so locate + semi-join
    // compare (and hash) like with like
    val keyed = manifestSchema(spark, warehouseDir, table)
      .flatMap(_.fields.find(_.name == keyCol).map(_.dataType))
      .map(t => keyed0.withColumn(keyCol, col(keyCol).cast(t)))
      .getOrElse(keyed0)
      .filter(col(keyCol).isNotNull).distinct()
    val baseEntries = manifestEntries(spark, warehouseDir, table,
      Some(baseV))
    val cand = locateCandidates(spark, warehouseDir, table, baseV,
      baseEntries, keyed,
      keyed.select(col(keyCol).as("__mv_key")), keyCol)
    if (cand.isEmpty) return (0, baseV)
    val dels = readPartitionsMulti(spark, warehouseDir, table,
        cand.map(partValuesOf), Some(baseV))
      .select((partCols.map(col) :+ col(keyCol)): _*)
      .join(keyed.select(col(keyCol).as("__dl_key")),
        col(keyCol) === col("__dl_key"), "left_semi")
      .distinct()
    deleteRows(spark, warehouseDir, table, dels, keyCol, partCols, note)
  }

  // ── the nightly merge ─────────────────────────────────────────────

  /** The NIGHTLY-MERGE composition — the reason this layer exists: run
    * the reference's incremental merge (latest-wins + tombstones,
    * [[graft.core.Merge.merge]]) against the current snapshot, PRUNED to
    * the partitions the change-set actually touches, and commit the
    * result as the next version. Untouched partitions are reused by
    * reference (zero new bytes), partitions whose every key tombstoned
    * are dropped from the new manifest, and the whole night is ONE
    * atomic manifest commit — so a 10 TB nightly-versioned corpus pays
    * GBs of write amplification per night AND keeps every pre-merge
    * night time-travelable.
    *
    * Touched set = partitions holding any change key (zone/bloom-pruned,
    * column-pruned semi-join) ∪ partitions of non-tombstone change rows
    * (both metadata-scale collects — partition VALUES); the merge itself
    * runs over slice ∪ change only. On a key-derived layout (every
    * partition column a declared transform of the key, e.g. the
    * `keybucket` shard) the touched set is the change rows' own
    * partitions and the merge is one shuffle ([[mergeKeyDerivedAt]]).
    *
    * CONCURRENCY: the whole read-merge-stage derivation pins one
    * committed base version; the commit then EXPECTS every touched
    * partition's live entry to still equal that base's
    * ([[writeDeltaInternal]]). A concurrent commit that moved a touched
    * partition aborts the attempt ([[ConcurrentWriteConflictException]])
    * and the merge RE-RUNS from the new head — both committers' change
    * batches survive (spec-pinned), where the r7 behavior silently
    * last-wins-dropped the loser's rows. Conflicted attempts leave
    * orphan staged dirs for [[vacuum]]. Commits that only touched
    * OTHER partitions interleave without conflict, as before.
    *
    * @return (touched partition values as strings, committed version)
    */
  def mergeVersioned(spark: SparkSession, warehouseDir: String,
      table: String, change: DataFrame, keyCol: String, partitionCol: String,
      order: Seq[Column], isTombstone: Column): (Seq[String], Int) = {
    val (touched, v) = mergeVersionedMulti(spark, warehouseDir, table,
      change, keyCol, Seq(partitionCol), order, isTombstone)
    (touched.map(_.head), v)
  }

  /** `sourceWins`: ANSI-MERGE precedence instead of version order — a
    * change row replaces the target row for its key unconditionally and
    * the tombstone condition is evaluated on change rows only
    * ([[graft.core.Merge.mergeSourceWins]]); what the SQL `MERGE INTO`
    * surface resolves to. The default (false) keeps the reference's
    * version-ordered latest-wins.
    */
  /** `helperCols`: columns of `change` consumed by the merge DECISION
    * (tombstone flags synthesized by a classifier, e.g. the SQL MERGE
    * clause chain) that must NOT land in the table — dropped from the
    * merged result before staging, so they never enter the recorded
    * schema. The reference's own `IsDelete`-style op columns are the
    * opposite case (they DO land) — pass them normally.
    */
  def mergeVersionedMulti(spark: SparkSession, warehouseDir: String,
      table: String, change: DataFrame, keyCol: String,
      partitionCols: Seq[String], order: Seq[Column],
      isTombstone: Column, sourceWins: Boolean = false,
      note: String = "", helperCols: Seq[String] = Nil)
      : (Seq[Seq[String]], Int) =
    // rederives = false: the change frame is FIXED, so a column-mapping
    // conflict (racing RENAME/DROP) can never heal by retrying — abort
    // loudly instead of spinning (or silently resurrecting)
    mergeVersionedMultiPlan(spark, warehouseDir, table, () => change,
      keyCol, partitionCols, order, isTombstone, sourceWins, note,
      helperCols, rederives = false)

  /** [[mergeVersionedMulti]] with the change relation supplied as a
    * PLAN THUNK, re-evaluated per OCC attempt. A fixed `change`
    * DataFrame is correct for callers whose change derivation is
    * independent of the table's own head (the nightly CDC batch); a
    * caller whose derivation READS the head — the SQL MERGE's
    * matched-ness probe classifying source rows through its clause
    * chain — must rebuild it after a lost race, or a key inserted
    * concurrently would stay classified not-matched and a conditional
    * `WHEN MATCHED AND c THEN DELETE` would take the wrong action even
    * though the commit itself lands cleanly against the new head.
    */
  /** `rederives`: does re-evaluating `change()` actually refresh the
    * frame against the new head? True for real plan thunks (the SQL
    * MERGE rebuilds its clause-classified change relation each
    * attempt), false for the fixed-frame wrapper. Governs the
    * column-mapping-drift conflict: a re-deriving caller retries it
    * like any conflict (the refreshed frame speaks the new names); a
    * fixed-frame caller aborts loudly on the FIRST one — its names are
    * stale forever, so its drift expectation pins to the schema at
    * ENTRY (never the refreshed baseV, which would stop seeing the
    * drift and silently resurrect a dropped column).
    */
  def mergeVersionedMultiPlan(spark: SparkSession, warehouseDir: String,
      table: String, change: () => DataFrame, keyCol: String,
      partitionCols: Seq[String], order: Seq[Column],
      isTombstone: Column, sourceWins: Boolean = false,
      note: String = "", helperCols: Seq[String] = Nil,
      rederives: Boolean = true)
      : (Seq[Seq[String]], Int) = {
    val entrySchema: Option[StructType] =
      if (rederives) None
      else manifestSchema(spark, warehouseDir, table)
    val MaxConflicts = 50
    var attempt = 0
    while (true) {
      val baseV = currentVersion(spark, warehouseDir, table).getOrElse(
        throw new java.util.NoSuchElementException(
          s"$table has no committed version to merge into"))
      try
        return mergeVersionedAt(spark, warehouseDir, table, baseV,
          change(), keyCol, partitionCols, order, isTombstone, sourceWins,
          note, helperCols, expectSchema0 = entrySchema)
      catch {
        case e: SchemaMappingConflictException if !rederives =>
          // propagate the PRECISE type (no retry, no wrap): a
          // statement-level caller that CAN re-derive its frame from
          // the live schema catches exactly this and re-runs
          val ex = new SchemaMappingConflictException(
            s"merge into $table aborted: ${e.getMessage} (the change " +
              "frame is fixed — its column names cannot refresh here; " +
              "re-derive it and run the merge again)")
          ex.initCause(e)
          throw ex
        case e: ConcurrentWriteConflictException =>
          attempt += 1
          if (attempt >= MaxConflicts)
            throw new java.io.IOException(
              s"mergeVersioned lost $MaxConflicts same-partition conflicts " +
                s"in a row on $table — a livelocked peer?", e)
      }
    }
    sys.error("unreachable")
  }

  /** ONE merge attempt pinned to `baseV` — throws
    * [[ConcurrentWriteConflictException]] if a touched partition's
    * entry moved between `baseV` and the commit (exposed for the
    * conflict spec; production goes through [[mergeVersionedMulti]]'s
    * retry loop).
    */
  /** `expectSchema0`: overrides the schema the mapping-drift conflict
    * check pins to. Default = the schema at `baseV` (right when the
    * change was derived at `baseV`, the plan-thunk path); a FIXED
    * change frame's caller passes the schema at ITS entry instead —
    * otherwise a retry's refreshed baseV would refresh the expectation
    * past the drift and a dropped column would silently resurrect.
    */
  private[io] def mergeVersionedAt(spark: SparkSession, warehouseDir: String,
      table: String, baseV: Int, change0: DataFrame, keyCol: String,
      partitionCols: Seq[String], order: Seq[Column],
      isTombstone: Column, sourceWins: Boolean = false,
      note: String = "", helperCols: Seq[String] = Nil,
      expectSchema0: Option[StructType] = None)
      : (Seq[Seq[String]], Int) = {
    val specs = generatedColumns(spark, warehouseDir, table, Some(baseV))
    if (partitionCols.nonEmpty && partitionCols.forall(p =>
        specs.exists(s => s.genCol == p && s.src == keyCol)))
      return mergeKeyDerivedAt(spark, warehouseDir, table, baseV, change0,
        keyCol, partitionCols, specs, order, isTombstone, sourceWins, note,
        helperCols, expectSchema0)
    // the change side derives omitted generated columns BEFORE the
    // touched-partition probe — a CDC batch addressing a days(ts)
    // partitioned table never carries the day column itself
    val recorded = manifestSchema(spark, warehouseDir, table, Some(baseV))
    val change = applyGenerated(spark, change0, specs, recorded)
    val target = read(spark, warehouseDir, table, Some(baseV))
    val baseEntries = manifestEntries(spark, warehouseDir, table, Some(baseV))
    val partTuple: DataFrame => DataFrame = df =>
      df.select(partitionCols.map(c => col(c).cast("string").as(c)): _*)
        .distinct()
    val changeKeys = change.select(col(keyCol).as("__mv_key")).distinct()
    val locateKeys = locateCandidates(spark, warehouseDir, table, baseV,
      baseEntries, change, changeKeys, keyCol)
    val locateSrc =
      if (locateKeys.size == baseEntries.size) target
      else if (locateKeys.isEmpty) target.limit(0)
      else readPartitionsMulti(spark, warehouseDir, table,
        locateKeys.map(partValuesOf), Some(baseV))
    val fromTarget = partTuple(
      locateSrc.join(changeKeys, col(keyCol) <=> col("__mv_key"), "left_semi"))
    val fromChange = partTuple(change.filter(!isTombstone))
    val touched = fromTarget.union(fromChange).distinct()
      .collect().map(r => partitionCols.indices.map(r.getString)).toSeq
    if (touched.isEmpty) return (Nil, baseV)
    // the slice read is MANIFEST-pruned: only the touched partitions'
    // generation dirs are listed or scanned — the untouched 99% of a
    // 100 TB table contributes zero listing and zero tasks (directory-
    // level pruning, stronger than the footer skipping a filter over
    // the full dir list would get); touched values present only in the
    // change (brand-new partitions) have no dir yet and are skipped
    val existing = touched.filter(v => baseEntries.contains(keyOf(v)))
    val slice =
      if (existing.isEmpty) target.limit(0)
      else readPartitionsMulti(spark, warehouseDir, table, existing,
        Some(baseV))
    // survivors of slice ∪ change, staged straight from the merge: the
    // touched partitions the stage writes nothing for are the emptied
    // ones, dropped in the same commit
    val mergedAll = (if (sourceWins)
        graft.core.Merge.mergeSourceWins(slice, change, keyCol, order,
          isTombstone)
      else graft.core.Merge.merge(slice, change, keyCol, order, isTombstone))
    // decision-only columns never reach staging or the recorded schema
    val merged = if (helperCols.isEmpty) mergedAll
      else mergedAll.drop(helperCols: _*)
    val expected = touched
      .map(v => keyOf(v) -> baseEntries.get(keyOf(v))).toMap
    (touched,
      writeDeltaInternal(spark, warehouseDir, table, merged, partitionCols,
        dropParts = Nil, note = note, expect = Some(expected),
        expectSchema = expectSchema0.orElse(recorded),
        dropIfEmpty = touched,
        genDerived = !specs.exists(s => change0.columns.contains(s.genCol))))
  }

  /** [[mergeVersionedAt]] on a KEY-DERIVED layout: every partition
    * column is a declared transform of `keyCol` ([[GenCols]] — the
    * warehouse adapter's `keybucket` shard is the nightly case), so all
    * rows of a key live in the one partition its own value names, and
    * the touched set is exactly the partitions of the change rows. No
    * zone/bloom locate and no semi-join against stored rows: the change
    * materializes once (the touched-set collect fills the cache, the
    * merge reads it back), the merge is one shuffle by partition
    * ([[graft.core.Merge.mergeClustered]]) whose tasks each write whole
    * partitions, and the partitions emptied by tombstones are the
    * touched ones the stage produced no entry for. Merge semantics and
    * the OCC expectation over the touched set are the general path's.
    */
  private def mergeKeyDerivedAt(spark: SparkSession, warehouseDir: String,
      table: String, baseV: Int, change0: DataFrame, keyCol: String,
      partitionCols: Seq[String], specs: Seq[GenCols.GenSpec],
      order: Seq[Column], isTombstone: Column, sourceWins: Boolean,
      note: String, helperCols: Seq[String],
      expectSchema0: Option[StructType]): (Seq[Seq[String]], Int) = {
    // the bucket derives from the key at the type it is stored at, so
    // a change whose key inferred another type (int against a long or
    // string column) still names the bucket holding its stored rows
    val recorded = manifestSchema(spark, warehouseDir, table, Some(baseV))
    val change = applyGenerated(spark, change0, specs, recorded)
    // a caller's own cache of the same plan is left to the caller
    val owned =
      change.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    change.persist()
    try {
      val touched = change
        .select(partitionCols.map(c => col(c).cast("string").as(c)): _*)
        .distinct().collect()
        .map(r => partitionCols.indices.map(r.getString): Seq[String]).toSeq
      if (touched.isEmpty) return (Nil, baseV)
      val baseEntries = manifestEntries(spark, warehouseDir, table,
        Some(baseV))
      val existing = touched.filter(v => baseEntries.contains(keyOf(v)))
      val slice =
        if (existing.isEmpty) read(spark, warehouseDir, table, Some(baseV))
          .limit(0)
        else readPartitionsMulti(spark, warehouseDir, table, existing,
          Some(baseV))
      val mergedAll = graft.core.Merge.mergeClustered(slice, change, keyCol,
        partitionCols, order, isTombstone, sourceWins)
      val merged =
        if (helperCols.isEmpty) mergedAll else mergedAll.drop(helperCols: _*)
      val expected = touched
        .map(v => keyOf(v) -> baseEntries.get(keyOf(v))).toMap
      (touched,
        writeDeltaInternal(spark, warehouseDir, table, merged, partitionCols,
          dropParts = Nil, note = note, expect = Some(expected),
          expectSchema = expectSchema0.orElse(recorded),
          dropIfEmpty = touched,
          // a change that carried a generated column itself is verified
          // with the merged rows; derived ones are right by construction
          genDerived = !specs.exists(s => change0.columns.contains(s.genCol))))
    } finally if (owned) change.unpersist()
  }

  /** The distinct `keyCol` values of `keys` that are PRESENT in the
    * table's current version — the matched/not-matched probe the SQL
    * MERGE surface classifies source rows with (and a useful audit in
    * its own right: "which of these ids does the table actually
    * hold?"). Cost profile is [[deleteRowsLocate]]'s locate step: zone
    * + bloom pruning narrows to the partitions that could hold any
    * probe key, then ONE column-pruned semi-join over just those
    * partitions — under a bloom policy on the key column this reads
    * O(partitions actually holding a key), never a full key-column
    * pass. NULL probe keys are dropped (presence of NULL is not a
    * key-match in SQL join semantics either).
    */
  def keysPresent(spark: SparkSession, warehouseDir: String, table: String,
      keys: DataFrame, keyCol: String): DataFrame = {
    val baseV = currentVersion(spark, warehouseDir, table).getOrElse(
      throw new java.util.NoSuchElementException(
        s"$table has no committed version"))
    val keyed0 = keys.select(
      (if (keys.columns.contains(keyCol)) col(keyCol)
       else col(keys.columns.head)).as(keyCol))
    val keyed = manifestSchema(spark, warehouseDir, table)
      .flatMap(_.fields.find(_.name == keyCol).map(_.dataType))
      .map(t => keyed0.withColumn(keyCol, col(keyCol).cast(t)))
      .getOrElse(keyed0)
      .filter(col(keyCol).isNotNull).distinct()
    val baseEntries = manifestEntries(spark, warehouseDir, table, Some(baseV))
    val cand = locateCandidates(spark, warehouseDir, table, baseV,
      baseEntries, keyed, keyed.select(col(keyCol).as("__mv_key")), keyCol)
    if (cand.isEmpty) return keyed.limit(0)
    keyed.join(
      readPartitionsMulti(spark, warehouseDir, table, cand.map(partValuesOf),
          Some(baseV))
        .select(col(keyCol).as("__kp_key")),
      col(keyCol) === col("__kp_key"), "left_semi")
  }

  /** The FULL current rows of the table whose `keyCol` appears in
    * `keys` — [[keysPresent]] generalized from membership to content.
    * This is the target-side read a SQL MERGE with column-list
    * assignments needs (the updated row = the TARGET row with assigned
    * columns replaced, so matched rows' current content must be in
    * hand), with the same cost profile: zone + bloom locate narrows to
    * the partitions that could hold any probe key, then one semi-join
    * over just those partitions — never a full table pass under a
    * bloom policy on the key.
    */
  def rowsForKeys(spark: SparkSession, warehouseDir: String, table: String,
      keys: DataFrame, keyCol: String): DataFrame = {
    val baseV = currentVersion(spark, warehouseDir, table).getOrElse(
      throw new java.util.NoSuchElementException(
        s"$table has no committed version"))
    val keyed0 = keys.select(
      (if (keys.columns.contains(keyCol)) col(keyCol)
       else col(keys.columns.head)).as(keyCol))
    val keyed = manifestSchema(spark, warehouseDir, table)
      .flatMap(_.fields.find(_.name == keyCol).map(_.dataType))
      .map(t => keyed0.withColumn(keyCol, col(keyCol).cast(t)))
      .getOrElse(keyed0)
      .filter(col(keyCol).isNotNull).distinct()
    val baseEntries = manifestEntries(spark, warehouseDir, table, Some(baseV))
    val cand = locateCandidates(spark, warehouseDir, table, baseV,
      baseEntries, keyed, keyed.select(col(keyCol).as("__mv_key")), keyCol)
    if (cand.isEmpty)
      return read(spark, warehouseDir, table, Some(baseV)).limit(0)
    readPartitionsMulti(spark, warehouseDir, table, cand.map(partValuesOf),
        Some(baseV))
      .join(keyed.select(col(keyCol).as("__rk_key")),
        col(keyCol) === col("__rk_key"), "left_semi")
  }

  /** APPEND rows to the table — SQL `INSERT INTO` semantics: each
    * touched partition's new content = its current rows ∪ the new rows
    * (contrast [[writeDelta]], whose contract is partition REPLACE).
    * This is a read-modify-write — the slice it unions against derives
    * from a pinned base version — so the commit carries the same
    * expectation as [[mergeVersionedMulti]] and re-runs from the new
    * head when a concurrent writer moved a touched partition; appends
    * touching disjoint partitions interleave without conflict.
    *
    * Schema: additive evolution as everywhere ([[writeDelta]]'s
    * `mergedSchema` contract — new columns append, retypes reject);
    * common columns cast to the TABLE's recorded types. No key
    * semantics: duplicate keys simply coexist, exactly like SQL INSERT
    * (run [[mergeVersionedMulti]] for upserts).
    *
    * @return the committed version (the current head when `rows` is
    *         empty — nothing to commit)
    */
  /** TRUNCATE — commit a version with ZERO partitions. O(1) metadata:
    * no delete vectors, no data IO; every previous version stays
    * time-travelable and the dropped generations reclaim through
    * [[vacuum]] once out of retention (contrast a DELETE of every row,
    * which would write O(rows) of vectors to express the same thing).
    * Schema, partition columns and policies carry over — the table is
    * empty, not gone.
    */
  def truncateTable(spark: SparkSession, warehouseDir: String,
      table: String, note: String = ""): Int = {
    require(currentVersion(spark, warehouseDir, table).isDefined,
      s"$table has no committed version to truncate")
    if (note.nonEmpty) checkHeaderText(Map("note" -> note))
    commitMerged(spark, warehouseDir, table, _ => Map.empty,
      headersFor = baseHdr => baseHdr - "note" ++
        (if (note.isEmpty) Map.empty[String, String]
         else Map("note" -> note)))
  }

  /** ALTER TABLE ADD COLUMNS — an O(1) schema-only commit: the new
    * columns (forced nullable — pre-widening generations have no
    * values for them) append to the recorded head schema and every
    * existing generation reads them as typed NULLs through the
    * cast-on-read the layer already performs for write-time additive
    * evolution. Zero data IO; name collisions reject loudly per OCC
    * attempt against the LIVE head (a concurrent writer may have added
    * the same column first).
    */
  def addColumns(spark: SparkSession, warehouseDir: String, table: String,
      cols: StructType, note: String = ""): Int = {
    require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
    require(currentVersion(spark, warehouseDir, table).isDefined,
      s"$table has no committed version to alter")
    if (note.nonEmpty) checkHeaderText(Map("note" -> note))
    commitMerged(spark, warehouseDir, table, identity,
      headersFor = baseHdr => {
        val baseSch = baseHdr.get("schema")
          .map(j => DataType.fromJson(j).asInstanceOf[StructType])
          .getOrElse(throw new IllegalStateException(
            s"$table records no #schema header — ADD COLUMNS needs it"))
        val clash = cols.fieldNames.filter(baseSch.fieldNames.contains)
        require(clash.isEmpty,
          s"column(s) ${clash.mkString(", ")} already exist in $table")
        val reserved = baseSch.fields.collect {
          case f if physicalOf(f) != f.name => physicalOf(f) -> f.name
        }.toMap
        cols.fields.foreach(f => reserved.get(f.name).foreach(l =>
          throw new IllegalArgumentException(
            s"column name '${f.name}' is reserved as the physical " +
              s"storage name of renamed column '$l' of $table — pick " +
              "another name, or writeFull to rebase physical names")))
        val sch = StructType(
          baseSch.fields ++ cols.fields.map(_.copy(nullable = true)))
        baseHdr - "note" + ("schema" -> sch.json) ++
          (if (note.isEmpty) Map.empty[String, String]
           else Map("note" -> note))
      })
  }

  /** ALTER TABLE DROP COLUMN(S) — the symmetric O(1) schema-only
    * commit: the column leaves the recorded head schema and every read
    * simply stops selecting it (cast-on-read is by name; the bytes
    * stay in existing generations and time travel to pre-drop versions
    * still sees them — physical reclaim is a rewrite's job, exactly
    * Delta/Iceberg's stance). Partition columns, the delete-vector key
    * and bloom/NDV-policied columns refuse (the layout/policy machinery
    * references them — drop the policy or rewrite first); checked per
    * OCC attempt against the LIVE head.
    */
  def dropColumns(spark: SparkSession, warehouseDir: String, table: String,
      names: Seq[String], ifExists: Boolean = false,
      note: String = ""): Int = {
    require(names.nonEmpty, "DROP COLUMNS needs at least one column")
    val headV = currentVersion(spark, warehouseDir, table).getOrElse(
      throw new java.util.NoSuchElementException(
        s"$table has no committed version to alter"))
    if (note.nonEmpty) checkHeaderText(Map("note" -> note))
    // no-op short circuit (all names absent under IF EXISTS): no
    // version burned for a statement that changes nothing
    val headSch = manifestSchema(spark, warehouseDir, table)
    if (ifExists &&
        headSch.exists(s => !names.exists(s.fieldNames.contains)))
      return headV
    commitMerged(spark, warehouseDir, table, identity,
      headersFor = baseHdr => {
        val baseSch = baseHdr.get("schema")
          .map(j => DataType.fromJson(j).asInstanceOf[StructType])
          .getOrElse(throw new IllegalStateException(
            s"$table records no #schema header — DROP COLUMNS needs it"))
        val missing = names.filterNot(baseSch.fieldNames.contains)
        require(ifExists || missing.isEmpty,
          s"no such column(s) in $table: ${missing.mkString(", ")}")
        val drop = names.filter(baseSch.fieldNames.contains).toSet
        val partCols = baseHdr.get("partcols").toSeq
          .flatMap(_.split(",")).toSet
        val protectedCols = partCols ++ baseHdr.get("dvkey") ++
          (baseHdr.get("bloomcols").toSeq ++ baseHdr.get("ndvcols"))
            .flatMap(_.split(","))
        val bad = drop.intersect(protectedCols)
        require(bad.isEmpty,
          s"cannot drop ${bad.mkString(", ")} of $table: partition / " +
            "delete-vector-key / bloom/NDV-policied columns are " +
            "load-bearing — repartition, rewrite, or drop the policy " +
            "first")
        val genLocked = GenCols.parse(baseHdr.collect {
          case (k, v) if k.startsWith("prop.") =>
            k.stripPrefix("prop.") -> v
        }).flatMap(s => Seq(s.genCol, s.src)).toSet
        val badGen = drop.intersect(genLocked)
        require(badGen.isEmpty,
          s"cannot drop ${badGen.mkString(", ")} of $table: a " +
            "graft.generated.* transform declares or derives from it — " +
            "UNSET the property first")
        val sch = StructType(baseSch.fields.filterNot(f => drop(f.name)))
        require(sch.nonEmpty, s"dropping ${names.mkString(", ")} would " +
          s"leave $table with no columns")
        baseHdr - "note" + ("schema" -> sch.json) ++
          (if (note.isEmpty) Map.empty[String, String]
           else Map("note" -> note))
      })
  }

  /** ALTER TABLE RENAME COLUMN — the third O(1) schema-only verb:
    * the recorded field takes the new LOGICAL name while its PHYSICAL
    * (on-disk) name stays the original forever ([[PhysicalKey]] field
    * metadata — Delta's column-mapping idea in the manifest's own
    * cast-on-read terms). Zero data IO: every generation of every
    * version keeps storing the column under the stable physical name;
    * reads project it to the current logical name ([[readEntries]]),
    * writes map it back before staging, and zone stats re-key at read
    * time ([[logicalStats]]). Time travel to pre-rename versions sees
    * the old name — each version's manifest records its own schema.
    *
    * LOAD-BEARING columns refuse, per OCC attempt against the LIVE
    * head: partition columns, the delete-vector key, bloom/NDV-policied
    * columns (their sidecar/layout machinery addresses them by name),
    * the durable `graft.mergeKey` property, and any column referenced
    * by a CHECK constraint (its expression text would silently stop
    * binding). The retired name stays RESERVED as the physical name —
    * re-adding a column under it rejects ([[mergedSchema]] /
    * [[addColumns]]); a full rewrite rebases physical names and frees
    * it.
    */
  def renameColumn(spark: SparkSession, warehouseDir: String,
      table: String, from: String, to: String, note: String = ""): Int = {
    require(from != to, "RENAME COLUMN needs two different names")
    require(currentVersion(spark, warehouseDir, table).isDefined,
      s"$table has no committed version to alter")
    if (note.nonEmpty) checkHeaderText(Map("note" -> note))
    commitMerged(spark, warehouseDir, table, identity,
      headersFor = baseHdr => {
        val baseSch = baseHdr.get("schema")
          .map(j => DataType.fromJson(j).asInstanceOf[StructType])
          .getOrElse(throw new IllegalStateException(
            s"$table records no #schema header — RENAME COLUMN needs it"))
        require(baseSch.fieldNames.contains(from),
          s"no such column in $table: $from")
        require(!baseSch.fieldNames.contains(to),
          s"column $to already exists in $table")
        val partCols = baseHdr.get("partcols").toSeq
          .flatMap(_.split(",")).toSet
        val protectedCols = partCols ++ baseHdr.get("dvkey") ++
          (baseHdr.get("bloomcols").toSeq ++ baseHdr.get("ndvcols"))
            .flatMap(_.split(",")) ++ baseHdr.get("prop.graft.mergeKey")
        require(!protectedCols.contains(from),
          s"cannot rename $from of $table: partition / " +
            "delete-vector-key / bloom/NDV-policied / merge-key " +
            "columns are load-bearing — rewrite or re-policy first")
        val genLocked = GenCols.parse(baseHdr.collect {
          case (k, v) if k.startsWith("prop.") =>
            k.stripPrefix("prop.") -> v
        }).flatMap(s => Seq(s.genCol, s.src)).toSet
        require(!genLocked.contains(from),
          s"cannot rename $from of $table: a graft.generated.* " +
            "transform declares or derives from it — UNSET the " +
            "property first")
        val word = ("""(?<![\w`])""" +
          java.util.regex.Pattern.quote(from) + """(?![\w`])""").r
        parseChecks(baseHdr).foreach { case (n, e) =>
          require(word.findFirstIn(e).isEmpty,
            s"cannot rename $from of $table: CHECK constraint '$n' " +
              s"references it ($e) — drop the check, rename, re-add")
        }
        require(!baseSch.fields.exists(f =>
            f.name != from && physicalOf(f) == to),
          s"cannot rename to '$to': it is the reserved physical " +
            s"storage name of another renamed column of $table")
        val sch = StructType(baseSch.fields.map { f =>
          if (f.name != from) f
          else f.copy(name = to,
            metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putString(PhysicalKey, physicalOf(f)).build())
        })
        baseHdr - "note" + ("schema" -> sch.json) ++
          (if (note.isEmpty) Map.empty[String, String]
           else Map("note" -> note))
      })
  }

  /** ALTER TABLE ... ALTER COLUMN c TYPE t — the EXPLICIT spelling of
    * type widening. The implicit path has existed since r10 (a delta
    * carrying a wider type widens the recorded schema via
    * [[mergedSchema]], rebuilding bloom sidecars and guarding NDV
    * policies); this verb requests the same transition with NO rows,
    * by pushing an EMPTY delta at the widened type through
    * [[writeDeltaMulti]] — one code path, so every guard the implicit
    * widening enforces (value-exact lattice admission, per-OCC-attempt
    * live-head re-checks, bloom sidecar rebuild at the new type,
    * rendering-stability for NDV-policied columns) holds here by
    * construction instead of by duplication. Cost: O(1) metadata when
    * no bloom policy covers the column; one pass over each live
    * bloomed partition when one does (the sidecars hashed the old
    * physical type and MUST rebuild or probes would wrongly prune).
    *
    * Loud rejects: unknown column; non-widening retype/narrowing (the
    * recorded files physically hold the old type — rewrite instead);
    * a PARTITION or generated-column widening that changes string
    * renderings (partition dir keys are value renderings — `1` and
    * `1.0` would split one logical partition in two).
    */
  def widenColumnType(spark: SparkSession, warehouseDir: String,
      table: String, colName: String, newType: DataType,
      note: String = "sql alter column type"): Int = {
    val schema = manifestSchema(spark, warehouseDir, table).getOrElse(
      throw new IllegalStateException(
        s"$table records no #schema header — ALTER COLUMN needs it"))
    val f = schema.fields.find(_.name == colName).getOrElse(
      throw new java.util.NoSuchElementException(
        s"$table has no column '$colName' " +
          s"(schema: ${schema.fieldNames.mkString(", ")})"))
    if (DataType.equalsStructurally(f.dataType, newType,
        ignoreNullability = true))
      return currentVersion(spark, warehouseDir, table).get // no-op
    require(graft.core.SchemaGuard.widens(f.dataType, newType),
      s"ALTER COLUMN TYPE on $table.$colName: " +
        s"${f.dataType.simpleString} -> ${newType.simpleString} is not " +
        "a value-exact widening (committed files physically hold " +
        s"${f.dataType.simpleString}; a narrowing or retype needs a " +
        "rewrite under the new type)")
    val partCols = partitionColumns(spark, warehouseDir, table).getOrElse(
      throw new IllegalStateException(
        s"$table records no #partcols header — ALTER COLUMN needs it"))
    val renderSensitive = partCols.contains(colName) ||
      generatedColumns(spark, warehouseDir, table)
        .exists(s => s.genCol == colName || s.src == colName)
    require(!renderSensitive ||
        graft.core.SchemaGuard.renderStable(f.dataType, newType),
      s"cannot widen $table.$colName to ${newType.simpleString}: it is " +
        "a partition / generated-transform column and the widening " +
        "changes string renderings — partition keys are value " +
        "renderings, so one logical partition would split in two; " +
        "rewrite under the new type instead")
    val widened = StructType(schema.fields.map(g =>
      if (g.name == colName) g.copy(dataType = newType) else g))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], widened)
    writeDeltaMulti(spark, warehouseDir, table, empty, partCols,
      note = note)
  }

  /** `expectSchema0`: the schema the caller DERIVED `rows0` under,
    * when that derivation happened before this call (COPY INTO reads
    * the schema, lists + aligns source files, then appends) — the
    * mapping-drift pin must cover derivation-to-commit, not just
    * entry-to-commit, or a DROP/RENAME landing in the gap is invisible
    * here (the dropped name reads as additive evolution and silently
    * resurrects). Default (None) pins to the schema at entry, right
    * for callers whose frame is built at the call site.
    */
  def appendRows(spark: SparkSession, warehouseDir: String, table: String,
      rows0: DataFrame, note: String = "",
      extraProps: Map[String, String] = Map.empty,
      expectProps: Map[String, Option[String]] = Map.empty,
      expectSchema0: Option[StructType] = None): Int = {
    val partCols = partitionColumns(spark, warehouseDir, table).getOrElse(
      throw new IllegalStateException(
        s"$table records no #partcols header — appendRows needs it"))
    val atEntry = manifestSchema(spark, warehouseDir, table)
    val rows = applyGenerated(spark, rows0,
      generatedColumns(spark, warehouseDir, table), atEntry)
    // the caller's frame is FIXED: pin the drift expectation to the
    // schema the frame was derived under — the caller's own read when
    // supplied, else the schema at ENTRY (a retry's refreshed baseV
    // would stop seeing a racing rename/drop and silently mis-commit
    // the stale names)
    val entrySchema = expectSchema0.orElse(atEntry)
    val MaxConflicts = 50
    var attempt = 0
    while (true) {
      val baseV = currentVersion(spark, warehouseDir, table).getOrElse(
        throw new java.util.NoSuchElementException(
          s"$table has no committed version to append to"))
      try {
        val baseEntries = manifestEntries(spark, warehouseDir, table,
          Some(baseV))
        val touched = rows
          .select(partCols.map(c => col(c).cast("string").as(c)): _*)
          .distinct().collect()
          .map(r => partCols.indices.map(r.getString): Seq[String]).toSeq
        if (touched.isEmpty) return baseV
        val existing = touched.filter(v => baseEntries.contains(keyOf(v)))
        val slice =
          if (existing.isEmpty)
            read(spark, warehouseDir, table, Some(baseV)).limit(0)
          else readPartitionsMulti(spark, warehouseDir, table, existing,
            Some(baseV))
        val delta = graft.core.Merge.alignedUnion(slice, rows)
        val expected = touched
          .map(v => keyOf(v) -> baseEntries.get(keyOf(v))).toMap
        return writeDeltaInternal(spark, warehouseDir, table, delta,
          partCols, dropParts = Nil, note = note, expect = Some(expected),
          extraProps = extraProps, expectProps = expectProps,
          expectSchema = entrySchema)
      } catch {
        case e: SchemaMappingConflictException =>
          // not retryable HERE (the rows frame and the slice fold are
          // pinned to stale names) — propagate the precise type so a
          // statement-level caller that re-derives from the live
          // schema (COPY INTO) can catch it and re-run
          val ex = new SchemaMappingConflictException(
            s"append to $table aborted: ${e.getMessage} (the appended " +
              "frame is fixed — re-derive it and append again)")
          ex.initCause(e)
          throw ex
        case e: ConcurrentWriteConflictException =>
          attempt += 1
          if (attempt >= MaxConflicts)
            throw new java.io.IOException(
              s"appendRows lost $MaxConflicts same-partition conflicts " +
                s"in a row on $table — a livelocked peer?", e)
      }
    }
    sys.error("unreachable")
  }

  /** The partitions the merge's key-locate semi-join must scan —
    * ZONE-MAP range pruning then BLOOM membership pruning, factored
    * out so specs can pin the pruned set.
    *
    * Zone step: only partitions whose recorded key RANGE intersects
    * the change batch's [min, max] — for clustered keys (time-ordered
    * ids, the common fact shape) that is a sliver; for scattered keys
    * it degrades to the full set. Bloom step (the scattered-key fix):
    * under a bloom policy covering the key column, zone survivors
    * whose sidecar rules out EVERY change key drop too. Soundness is
    * both structures' one-way conservatism; the bloom step further
    * gates on: no NULL change keys (the locate join is null-safe),
    * probe set under [[BloomSidecar.MaxProbeKeys]], and the change
    * key's type EXACTLY matching the recorded column type (a coerced
    * twin would hash differently). Any gate failure keeps the zone
    * verdict; a change batch containing NULL keys skips both steps
    * (min/max cannot see nulls).
    */
  private[io] def locateCandidates(spark: SparkSession,
      warehouseDir: String, table: String, baseV: Int,
      baseEntries: Map[String, Entry], change: DataFrame,
      changeKeys: DataFrame, keyCol: String): Seq[String] = {
    val kb = change.agg(min(col(keyCol)), max(col(keyCol)),
      count(when(col(keyCol).isNull, 1)), count(lit(1))).collect()(0)
    if (kb.isNullAt(0) || kb.getLong(2) > 0L)
      return baseEntries.keys.toSeq
    val schema = manifestSchema(spark, warehouseDir, table, Some(baseV))
    val zoneKeys = locatePrune(baseEntries, keyCol, kb.get(0), kb.get(1),
      schema)
    val bloomable = kb.getLong(3) <= BloomSidecar.MaxProbeKeys &&
      bloomColumns(spark, warehouseDir, table, Some(baseV))
        .exists(_.contains(keyCol)) &&
      schema.flatMap(_.fields.find(_.name == keyCol).map(_.dataType))
        .exists(dt => change.schema.fields.find(_.name == keyCol)
          .exists(f => DataType.equalsStructurally(f.dataType, dt)))
    if (!bloomable) zoneKeys
    else BloomSidecar.prune(spark, root(warehouseDir, table),
      zoneKeys.map(k => k -> baseEntries(k)), keyCol, changeKeys)
  }

  /** The manifest keys whose recorded `keyCol` range INTERSECTS
    * [lo, hi] — the zone-map pre-filter behind [[locateCandidates]].
    * All the usual conservatism applies (no stats / unknown type /
    * family mismatch ⇒ keep); an all-null-key partition prunes (a
    * non-null key cannot live there).
    */
  private[io] def locatePrune(entries: Map[String, Entry], keyCol: String,
      lo: Any, hi: Any, schema: Option[StructType]): Seq[String] =
    entries.toSeq.filter { case (_, e) =>
      ZoneMaps.mayMatch(e.stats, ZoneGe(keyCol, lo), schema) &&
        ZoneMaps.mayMatch(e.stats, ZoneLe(keyCol, hi), schema)
    }.map(_._1)

  // ── maintenance / audit ───────────────────────────────────────────

  /** Roll the table to an earlier version's CONTENT by committing a new
    * version with that manifest — zero data movement (pure file reuse),
    * forward-only history (the "rollback" is itself an auditable
    * version, and nothing above any pointer gets swept).
    */
  def restore(spark: SparkSession, warehouseDir: String, table: String,
      to: Int): Int = {
    val base = root(warehouseDir, table)
    val (oldHdr, oldMan) = loadManifest(fsOf(spark, base),
      manifestPath(base, to))
    commitMerged(spark, warehouseDir, table, _ => oldMan,
      headersFor = _ => oldHdr - "note")
  }

  /** PARTITION-level diff of two committed versions — the audit the
    * manifest makes free (no data read at all): one row per partition
    * whose entry changed (a delete-vector append counts — the
    * partition's visible rows moved), (value, status ∈
    * added|removed|changed).
    */
  def manifestDiff(spark: SparkSession, warehouseDir: String, table: String,
      v1: Int, v2: Int): DataFrame = {
    import spark.implicits._
    val a = manifestEntries(spark, warehouseDir, table, Some(v1))
    val b = manifestEntries(spark, warehouseDir, table, Some(v2))
    val rows =
      (b.keySet -- a.keySet).toSeq.map(k => (valueOf(k), "added")) ++
      (a.keySet -- b.keySet).toSeq.map(k => (valueOf(k), "removed")) ++
      a.keySet.intersect(b.keySet).toSeq.collect {
        case k if a(k) != b(k) => (valueOf(k), "changed")
      }
    rows.toDF("part_value", "status")
  }

  /** [[manifestDiff]] keyed by manifest key instead of display value —
    * the exact form the row-level change feed composes over.
    */
  private[graft] def manifestDiffKeys(spark: SparkSession,
      warehouseDir: String, table: String, v1: Int, v2: Int)
      : Seq[(String, String)] = {
    val a = manifestEntries(spark, warehouseDir, table, Some(v1))
    val b = manifestEntries(spark, warehouseDir, table, Some(v2))
    ((b.keySet -- a.keySet).toSeq.map(_ -> "added") ++
      (a.keySet -- b.keySet).toSeq.map(_ -> "removed") ++
      a.keySet.intersect(b.keySet).toSeq.collect {
        case k if a(k) != b(k) => k -> "changed"
      }).sortBy(_._1)
  }

  // ── row-level change consumption (CDC read side) ─────────────────

  /** ROW-level change feed between two committed versions — the
    * subscription form of [[manifestDiff]]: one row per key that was
    * inserted / updated / deleted between `v1` and `v2`, with the old
    * and new values side by side (`Merge.changeFeed`'s schema: keyCol,
    * change_type ∈ insert|update|delete, old_c/new_c per column) — what
    * a downstream pipeline consumes instead of re-diffing snapshots
    * (Delta CDF / BigQuery `CHANGES` shape).
    *
    * PARTITION-PRUNED off the manifests: only partitions whose ENTRY
    * moved between the versions (data dir replaced, delete vector
    * appended, partition added/dropped) are scanned on either side —
    * identical entries imply identical visible rows (generation dirs
    * and delete dirs are immutable), so the untouched bulk of the table
    * contributes zero IO and provably zero feed rows. `v1 = 0` means
    * "before the table existed": the whole of `v2` feeds as inserts
    * (the bootstrap batch of a subscription).
    *
    * Schemas may have (additively) evolved between the versions; both
    * slices conform to `v2`'s recorded schema, so a widened column
    * surfaces as an update where `v2` carries values.
    */
  def readChanges(spark: SparkSession, warehouseDir: String, table: String,
      v1: Int, v2: Int, keyCol: String): DataFrame = {
    require(v1 >= 0 && v2 > v1, s"need 0 <= v1 < v2, got ($v1, $v2)")
    val newSchema = manifestSchema(spark, warehouseDir, table, Some(v2))
      .getOrElse(read(spark, warehouseDir, table, Some(v2)).schema)
    changesPair(spark, warehouseDir, table, v1, v2, keyCol, newSchema)
  }

  /** Every change committed AFTER `sinceV` up to `toV` (default: the
    * current head), composed from CONSECUTIVE manifest pairs so
    * intermediate churn is preserved — a key updated in v5 and deleted
    * in v7 emits BOTH events, each tagged with the `version` that
    * committed it (first output column). `sinceV` is the subscriber's
    * checkpoint: "I have consumed through version N" — pass `sinceV=0`
    * on first contact to receive the bootstrap snapshot as inserts.
    * All pairs conform to `toV`'s recorded schema so the union is one
    * coherent relation across additive evolution.
    *
    * RETENTION contract: the pairs need every manifest in
    * [sinceV, toV]; a subscriber that lags past [[vacuum]]'s retention
    * fails LOUDLY on the missing manifest (never silently re-labels
    * missed updates) — resync by consuming from `sinceV = 0` into a
    * fresh downstream state. Size `keepHistory` above the slowest
    * subscriber's lag.
    */
  def readChangesSince(spark: SparkSession, warehouseDir: String,
      table: String, sinceV: Int, keyCol: String,
      toV: Option[Int] = None): DataFrame = {
    val head = resolve(spark, warehouseDir, table, toV)
    require(sinceV >= 0 && sinceV <= head,
      s"sinceV must be in [0, $head], got $sinceV")
    val schema = manifestSchema(spark, warehouseDir, table, Some(head))
      .getOrElse(read(spark, warehouseDir, table, Some(head)).schema)
    val feeds = ((sinceV + 1) to head).map { v =>
      changesPair(spark, warehouseDir, table, v - 1, v, keyCol, schema)
        .select(lit(v).as("version"), col("*"))
    }
    require(feeds.nonEmpty,
      s"no versions of $table after $sinceV (head = $head)")
    feeds.reduce(_ unionAll _)
  }

  /** The earliest version the change feed can still serve CHANGES for —
    * diffing version v needs manifest v-1, so after a [[vacuum]] the
    * feed serves changes for versions STRICTLY AFTER the oldest
    * retained manifest, and that oldest version itself only as a
    * bootstrap snapshot ([[readChangesBootstrap]]). None = no committed
    * version at all. Subscribers compare their resume point against
    * this to fail with "resume point expired — restart from a fresh
    * snapshot" instead of a raw missing-file error.
    */
  def earliestFeedVersion(spark: SparkSession, warehouseDir: String,
      table: String): Option[Int] =
    listVersions(spark, warehouseDir, table).headOption.map(_ + 1)

  /** Version `v` as a BOOTSTRAP change feed: every row live at `v`
    * tagged `insert`, version column = `v` — the initial snapshot a
    * NEW subscriber consumes when the history before `v` is out of
    * retention (the Delta CDF `startingVersion` pattern). Identical to
    * `readChangesSince(0, …)`'s first pair when `v` is the table's
    * first version — this is its generalization to a vacuumed history.
    */
  def readChangesBootstrap(spark: SparkSession, warehouseDir: String,
      table: String, v: Int, keyCol: String): DataFrame = {
    val schema = manifestSchema(spark, warehouseDir, table, Some(v))
      .getOrElse(read(spark, warehouseDir, table, Some(v)).schema)
    changesPair(spark, warehouseDir, table, 0, v, keyCol, schema)
      .select(lit(v).as("version"), col("*"))
  }

  /** One (v1, v2) feed under a caller-pinned output schema — the unit
    * [[readChangesSince]] unions over. `v1 = 0` means "from nothing"
    * (the bootstrap shape): the old side is empty and every live row
    * of `v2` emits as an insert.
    */
  private def changesPair(spark: SparkSession, warehouseDir: String,
      table: String, v1: Int, v2: Int, keyCol: String,
      schema: StructType): DataFrame = {
    require(schema.fieldNames.contains(keyCol),
      s"key column $keyCol is not in $table's schema")
    val newSide = slice(spark, warehouseDir, table, v2,
      if (v1 == 0) manifestEntries(spark, warehouseDir, table, Some(v2))
        .keys.toSeq
      else manifestDiffKeys(spark, warehouseDir, table, v1, v2).map(_._1))
    val oldSide =
      if (v1 == 0) newSide.limit(0)
      else slice(spark, warehouseDir, table, v1,
        manifestDiffKeys(spark, warehouseDir, table, v1, v2).map(_._1))
    // conformance must survive RENAMES between the pair's versions and
    // the target schema: each side drops to its version's stable
    // PHYSICAL names, then conforms up to the target with the target's
    // physical→logical mapping declared — a renamed column feeds as
    // ONE column across its whole history, never a NULLed split
    val tgtRenames = schema.fields.collect {
      case f if physicalOf(f) != f.name => physicalOf(f) -> f.name
    }.toMap
    def conformed(df: DataFrame, v: Int, what: String): DataFrame = {
      val verSch =
        if (v == 0) None
        else manifestSchema(spark, warehouseDir, table, Some(v))
      val phys = verSch match {
        case Some(s) if s.fields.exists(f => physicalOf(f) != f.name) =>
          df.select(s.fields.toSeq.map(f =>
            col(f.name).as(physicalOf(f))): _*)
        case _ => df
      }
      if (phys.schema == schema && tgtRenames.isEmpty) phys
      else graft.core.SchemaGuard.conform(schema, phys, align = true,
        what, renames = tgtRenames)
    }
    graft.core.Merge.changeFeed(
      conformed(oldSide, if (v1 == 0) v2 else v1, s"$table@v$v1"),
      conformed(newSide, v2, s"$table@v$v2"),
      keyCol, schema.fieldNames.filterNot(_ == keyCol).toSeq)
  }

  /** The rows of `v` living in the named partitions (empty relation
    * under `v`'s schema when none of them exist there).
    */
  private def slice(spark: SparkSession, warehouseDir: String, table: String,
      v: Int, keys: Seq[String]): DataFrame = {
    val m = manifestEntries(spark, warehouseDir, table, Some(v))
    val present = keys.filter(m.contains).map(partValuesOf)
    if (present.isEmpty) read(spark, warehouseDir, table, Some(v)).limit(0)
    else readPartitionsMulti(spark, warehouseDir, table, present, Some(v))
  }

  /** Per-partition file statistics of a committed version — the
    * manifest layer's compaction trigger (driver-side metadata listing,
    * zero data reads): (partition value, generation dir, n_files,
    * bytes). A delta written off a wide shuffle can leave one partition
    * as dozens of small files; this relation is what a nightly job
    * consults to decide WHERE to run [[compactPartitions]].
    */
  def partitionFileStats(spark: SparkSession, warehouseDir: String,
      table: String, asOf: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val base = root(warehouseDir, table)
    val fs = fsOf(spark, base)
    manifest(spark, warehouseDir, table, asOf).toSeq.map { case (k, rel) =>
      val files = fs.listStatus(new Path(base, rel)).toSeq
        .filter(s => !s.getPath.getName.startsWith("_"))
      (valueOf(k), rel, files.size.toLong, files.map(_.getLen).sum)
    }.toDF("part_value", "gen_dir", "n_files", "bytes")
  }

  /** Per-partition ROW counts of a committed version, answered from the
    * MANIFEST alone — zero data reads, zero directory listing (the
    * stats every `count(*)`-shaped health check and compaction planner
    * wants without paying a 100 TB scan). `n_rows` is the generation's
    * staged count; `is_exact` is false when the count predates r8
    * (`-1`) or delete vectors make it an upper bound (fold with
    * [[compactPartitions]] to restore exactness).
    */
  def partitionRowStats(spark: SparkSession, warehouseDir: String,
      table: String, asOf: Option[Int] = None): DataFrame = {
    import spark.implicits._
    manifestEntries(spark, warehouseDir, table, asOf).toSeq
      .map { case (k, e) =>
        (valueOf(k), e.rows, e.rows >= 0 && e.deletes.isEmpty)
      }.toDF("part_value", "n_rows", "is_exact")
  }

  /** The version's EXACT total row count from the manifest alone — Some
    * only when every entry carries a recorded count and no delete
    * vectors are outstanding (else the honest answer is "scan or
    * compact first", never a wrong number).
    */
  def rowCount(spark: SparkSession, warehouseDir: String, table: String,
      asOf: Option[Int] = None): Option[Long] = {
    val es = manifestEntries(spark, warehouseDir, table, asOf).values
    if (es.exists(e => e.rows < 0 || e.deletes.nonEmpty)) None
    else Some(es.map(_.rows).sum)
  }

  /** Table-wide per-column [min, max] answered ENTIRELY from the
    * manifest's zone stats — ZERO data reads, zero listing (the
    * min/max-shaped health check and the query planner's range input;
    * the Iceberg-metadata-table idea). One row: `min_<col>`/`max_<col>`
    * per requested column, typed under the recorded schema, plus
    * `is_exact`.
    *
    * Honesty (the [[rowCount]] contract extended to ranges):
    *  - a column recorded in EVERY entry folds exactly; `is_exact` is
    *    true only when every requested column did AND no entry carries
    *    outstanding delete vectors (stats describe the GENERATION — a
    *    vector may have deleted the extremal row, so under DVs the
    *    folded range is still a valid OUTER bound but not exact);
    *  - a column missing from ANY entry's stats (pre-stats manifest,
    *    unsupported type, post-widening column older partitions
    *    predate) reports NULL bounds — a fold over the recorded subset
    *    would not bound the table and must not masquerade as one;
    *  - token pairs the recorded type cannot compare faithfully
    *    (non-BMP strings) report NULL bounds likewise;
    *  - all-NULL columns report NULL bounds with exactness intact
    *    (min of an all-NULL column IS NULL).
    */
  def columnRanges(spark: SparkSession, warehouseDir: String, table: String,
      cols: Seq[String], asOf: Option[Int] = None): DataFrame = {
    require(cols.nonEmpty, "columnRanges needs at least one column")
    val schema = manifestSchema(spark, warehouseDir, table, asOf)
    val entries = manifestEntries(spark, warehouseDir, table, asOf)
      .values.toSeq
      .map(e => e.copy(stats = logicalStats(e.stats, schema)))
    val anyDv = entries.exists(_.deletes.nonEmpty)
    // fold tokens under the column's comparator; Left = incomparable
    def fold(ts: Seq[String], takeLess: Boolean, dt: DataType)
        : Either[Unit, Option[String]] =
      ts.foldLeft[Either[Unit, Option[String]]](Right(None)) {
        case (Left(_), _) => Left(())
        case (Right(None), t) => Right(Some(t))
        case (Right(Some(b)), t) => ZoneMaps.cmp(t, b, dt) match {
          case Some(c) => Right(Some(if ((c < 0) == takeLess) t else b))
          case None => Left(())
        }
      }
    var exact = !anyDv
    val exprs = cols.flatMap { c =>
      val dt = schema.flatMap(_.fields.find(_.name == c)).map(_.dataType)
      val recorded = entries.nonEmpty && dt.isDefined &&
        entries.forall(_.stats.contains(c))
      val (loTok, hiTok) =
        if (!recorded) { if (entries.nonEmpty) exact = false; (None, None) }
        else {
          val los = entries.flatMap(_.stats(c).lo)
          val his = entries.flatMap(_.stats(c).hi)
          (fold(los, takeLess = true, dt.get),
            fold(his, takeLess = false, dt.get)) match {
            case (Right(lo), Right(hi)) => (lo, hi)
            case _ => exact = false; (None, None)
          }
        }
      def typed(tok: Option[String], name: String): Column = {
        val c0 = tok.map(lit(_)).getOrElse(lit(null))
        dt.map(c0.cast).getOrElse(c0).as(name)
      }
      Seq(typed(loTok, s"min_$c"), typed(hiTok, s"max_$c"))
    }
    spark.range(1).select(exprs :+ lit(exact).as("is_exact"): _*)
  }

  /** MANIFEST-only DISTINCT counts — table-wide NDV per column folded
    * from the per-partition KMV sketches ([[NdvSidecar]]) with ZERO
    * data reads (one kilobyte sidecar read per live partition). One
    * row per requested column: `(col_name, ndv, is_exact)` —
    * `is_exact` true when every live sketch is COMPLETE (fewer than k
    * distinct hashes — the sketch IS the distinct set, the fold is
    * exact) and no delete vectors are outstanding; a saturated sketch
    * degrades to the deterministic (k−1)·M/d estimate with `is_exact`
    * false; any entry missing the sidecar or the column (pre-policy
    * generations, columns outside `#ndvcols`) reports NULL — a fold
    * over a subset bounds nothing and must not masquerade.
    */
  def columnNdv(spark: SparkSession, warehouseDir: String, table: String,
      cols: Seq[String], asOf: Option[Int] = None): DataFrame = {
    import spark.implicits._
    require(cols.nonEmpty, "columnNdv needs at least one column")
    val base = root(warehouseDir, table)
    val fs = fsOf(spark, base)
    val entries = manifestEntries(spark, warehouseDir, table, asOf)
      .values.toSeq
    val anyDv = entries.exists(_.deletes.nonEmpty)
    val sidecars = entries.map(e =>
      NdvSidecar.read(fs, new Path(base, e.dir)))
    cols.sorted.map { c =>
      val per = sidecars.map(_.flatMap(_.get(c)))
      if (entries.isEmpty) (c, Option(0L), true) // empty version
      else if (per.exists(_.isEmpty)) (c, None: Option[Long], false)
      else {
        val (ndv, complete) = NdvSidecar.fold(per.map(_.get))
        (c, Option(ndv), complete && !anyDv)
      }
    }.toDF("col_name", "ndv", "is_exact")
  }

  /** Rewrite the named partitions as fresh single-ish-file generation
    * dirs, committed as ONE new version — content identical (delete
    * vectors FOLD into the rewrite: the new generation omits the
    * deleted rows and carries no vectors), purely a file-layout fold
    * (repartition by the partition columns gives ~one output file per
    * partition). Readers of older versions keep their files; [[vacuum]]
    * reclaims the sprawled generations and folded vectors once they age
    * out of retention.
    */
  def compactPartitions(spark: SparkSession, warehouseDir: String,
      table: String, partCol: String, values: Seq[String]): Int =
    compactPartitionsMulti(spark, warehouseDir, table, Seq(partCol),
      values.map(Seq(_)))

  def compactPartitionsMulti(spark: SparkSession, warehouseDir: String,
      table: String, partCols: Seq[String], values: Seq[Seq[String]],
      layout: Option[DataFrame => DataFrame] = None): Int = {
    // compaction is a READ-MODIFY-WRITE like mergeVersioned: the slice
    // derives from a pinned snapshot, so committing it last-wins would
    // silently drop a concurrent merge's rows from the same partition.
    // Same cure: an expectation-carrying commit + re-run from the new
    // head on conflict (a maintenance fold racing a nightly merge is
    // the NORMAL case at scale, not an anomaly).
    val MaxConflicts = 50
    var attempt = 0
    while (true) {
      val baseV = currentVersion(spark, warehouseDir, table).getOrElse(
        throw new java.util.NoSuchElementException(
          s"$table has no committed version to compact"))
      try
        return compactPartitionsAt(spark, warehouseDir, table, partCols,
          values, layout, baseV)
      catch {
        case e: ConcurrentWriteConflictException =>
          attempt += 1
          if (attempt >= MaxConflicts)
            throw new java.io.IOException(
              s"compactPartitions lost $MaxConflicts same-partition " +
                s"conflicts in a row on $table — a livelocked peer?", e)
      }
    }
    sys.error("unreachable")
  }

  /** ONE compaction attempt pinned to `baseV` — throws
    * [[ConcurrentWriteConflictException]] if any requested partition's
    * entry moved (or appeared — a stale drop must not delete a peer's
    * new partition) between `baseV` and the commit. Exposed for the
    * conflict spec; production goes through [[compactPartitionsMulti]]'s
    * retry loop.
    */
  private[io] def compactPartitionsAt(spark: SparkSession,
      warehouseDir: String, table: String, partCols: Seq[String],
      values: Seq[Seq[String]], layout: Option[DataFrame => DataFrame],
      baseV: Int): Int = {
    val baseEntries = manifestEntries(spark, warehouseDir, table, Some(baseV))
    val existing = values.filter(v => baseEntries.contains(keyOf(v)))
    require(existing.nonEmpty,
      s"none of the requested partitions exist in $table: $values")
    val raw = readPartitionsMulti(spark, warehouseDir, table, existing,
      Some(baseV))
    // default layout: one hash exchange on the partition columns →
    // one file per partition (pure fold); optimize* supply clustered
    // layouts instead (range exchange + in-task sort — the task order
    // IS what the parquet writer persists, so the layout survives)
    val slice = layout.fold(raw.repartition(partCols.map(col): _*))(_(raw))
      .localCheckpoint(true) // consumed twice: empties probe + the write
    // a partition whose EVERY row is delete-vectored folds to a DROP —
    // the delta write replaces only partitions present in its frame,
    // so without the explicit drop the emptied partition would keep
    // its old generation + vectors, unfolded forever
    val present: Set[Seq[String]] = slice
      .select(partCols.map(c => col(c).cast("string").as(c)): _*)
      .distinct().collect()
      .map(r => partCols.indices.map(r.getString): Seq[String]).toSet
    val drops = values.filterNot(v => present.contains(v))
    // expectation over EVERY requested value, absent ones included
    // (expected None): a peer creating a partition this compaction
    // would stale-drop is a conflict too
    val expected = values.map(v => keyOf(v) -> baseEntries.get(keyOf(v)))
      .toMap
    // drift expectation at baseV is right here: the slice re-derives
    // from baseV on every retry, so its names DO refresh — a racing
    // rename/drop conflicts once, then the re-fold heals (the
    // fixed-frame entry points pin to their entry schema instead)
    writeDeltaInternal(spark, warehouseDir, table, slice, partCols,
      dropParts = drops, note = "", expect = Some(expected),
      expectSchema = manifestSchema(spark, warehouseDir, table,
        Some(baseV)))
  }

  /** Layout-rewriting compaction, the scan-side OPTIMIZE: fold the
    * named partitions RANGE-CLUSTERED on `sortCols` — a range exchange
    * on (partition cols, sort cols) + an in-task sort lays each
    * rewritten file out as a narrow, (mostly) disjoint slice of the
    * sort-key domain, so the per-file zone maps every stage records
    * (`_filestats`) turn [[readWhere]]'s range/point predicates into
    * FILE-level pruning inside surviving partitions. Unclustered data
    * gains nothing from file stats (every file spans the domain); this
    * is the rewrite that makes them selective — run it where
    * [[suggestCompaction]] flags churn, and the fold also clears delete
    * vectors and small files like any compaction. `filesPerPartition`
    * sizes the range exchange (total tasks = partitions × files; the
    * range sampler balances row counts, so a skewed partition simply
    * takes more of the budget). High-cardinality sort keys — ids,
    * timestamps — are the fit; the PARTITION columns handle the
    * low-cardinality dimensions.
    */
  def optimizeClustered(spark: SparkSession, warehouseDir: String,
      table: String, partCols: Seq[String], values: Seq[Seq[String]],
      sortCols: Seq[String], filesPerPartition: Int = 8): Int = {
    require(sortCols.nonEmpty, "optimizeClustered needs sort columns")
    val keys = (partCols ++ sortCols).map(col)
    compactPartitionsMulti(spark, warehouseDir, table, partCols, values,
      layout = Some(df => df
        .repartitionByRange((filesPerPartition * values.size).max(1), keys: _*)
        .sortWithinPartitions(keys: _*)))
  }

  /** Z-ORDERED twin of [[optimizeClustered]] for TWO-dimensional
    * predicates: clustering one key leaves the other spanning its full
    * domain in every file (zero skipping on it); ordering by the Morton
    * interleave ([[Tables.mortonKey]]) gives every file a small
    * RECTANGLE of the (colA, colB) space, so the per-file zone maps
    * prune on EITHER column — each key's ranges ~√files wider than
    * single-key clustering, the classic trade. Domains come from one
    * agg over the slice (all-null/empty degrades to a plain fold via
    * mortonKey's scale guard).
    */
  def optimizeZOrdered(spark: SparkSession, warehouseDir: String,
      table: String, partCols: Seq[String], values: Seq[Seq[String]],
      colA: String, colB: String, filesPerPartition: Int = 8): Int =
    optimizeZOrderedMulti(spark, warehouseDir, table, partCols, values,
      Seq(colA, colB), filesPerPartition)

  /** N-column twin of [[optimizeZOrdered]] (2..8 Z-order columns via
    * [[Tables.mortonKeyN]]): every rewritten file owns a small
    * hyper-rectangle of the n-D key space, so the per-file zone maps
    * prune on ANY of the columns. Domains come from one agg over the
    * slice; all-null/empty degrades to a plain fold via the scale
    * guard.
    */
  def optimizeZOrderedMulti(spark: SparkSession, warehouseDir: String,
      table: String, partCols: Seq[String], values: Seq[Seq[String]],
      zCols: Seq[String], filesPerPartition: Int = 8): Int =
    compactPartitionsMulti(spark, warehouseDir, table, partCols, values,
      layout = Some { df =>
        val aggs = zCols.flatMap(c => Seq(
          min(col(c).cast("double")), max(col(c).cast("double"))))
        val s = df.agg(aggs.head, aggs.tail: _*).head()
        def stat(i: Int): Double = if (s.isNullAt(i)) 0.0 else s.getDouble(i)
        val keys = partCols.map(col) :+ col("__gz")
        df.withColumn("__gz", Tables.mortonKeyN(
            zCols.zipWithIndex.map { case (c, j) =>
              (col(c), stat(2 * j), stat(2 * j + 1))
            }))
          .repartitionByRange((filesPerPartition * values.size).max(1), keys: _*)
          .sortWithinPartitions(keys: _*)
          .drop("__gz")
      })

  /** ZERO-COPY table clone — a BRANCH: `dst`'s first version is `src`'s
    * `asOf` manifest with every generation / delete-vector / bloom dir
    * re-rooted as a `../{src}.mv/…` relative reference (readers resolve
    * dirs against their own table root, so foreign references read
    * transparently), plus `src`'s headers (schema, partition layout,
    * policies, CHECK rules). No data moves. Divergence is
    * copy-on-write by construction: any write on the branch stages NEW
    * dirs under the branch's root and keeps foreign references only
    * for untouched partitions; compacting a branch partition localizes
    * it. The branch's vacuum can never sweep source files (it only
    * lists its OWN parts/deletes/blooms trees; foreign references are
    * names in its manifests, not listable children).
    *
    * THE caveat, stated plainly (the Delta shallow-clone contract): the
    * SOURCE's vacuum does not know about branches — it may reclaim
    * generations a branch still references once they age out of the
    * source's own retention. Keep source retention ≥ branch divergence,
    * or take a `deep` clone (materialize: one full read + write, an
    * independent table).
    */
  def cloneTable(spark: SparkSession, warehouseDir: String, src: String,
      dst: String, asOf: Option[Int] = None, deep: Boolean = false): Int = {
    require(src != dst, "clone onto itself")
    require(currentVersion(spark, warehouseDir, dst).isEmpty,
      s"$dst already exists — clones only bootstrap new tables")
    if (deep) {
      val partCols = partitionColumns(spark, warehouseDir, src, asOf)
        .getOrElse(throw new IllegalStateException(
          s"$src records no #partcols header"))
      return writeFullMulti(spark, warehouseDir, dst,
        read(spark, warehouseDir, src, asOf), partCols,
        bloomColumns(spark, warehouseDir, src, asOf).getOrElse(Nil),
        ndvColumns(spark, warehouseDir, src, asOf).getOrElse(Nil))
    }
    val entries = manifestEntries(spark, warehouseDir, src, asOf)
    val headers = headersOf(spark, warehouseDir, src, asOf) - "note" - "ts"
    def reroot(rel: String): String = s"../$src.mv/$rel"
    val cloned = entries.map { case (k, e) =>
      k -> e.copy(dir = reroot(e.dir), deletes = e.deletes.map(reroot),
        bloom = e.bloom.map(reroot))
    }
    val base = root(warehouseDir, dst)
    fsOf(spark, base).mkdirs(base)
    commitMerged(spark, warehouseDir, dst, _ => cloned,
      headersFor = _ => headers +
        ("note" -> s"clone of $src v${resolve(spark, warehouseDir, src, asOf)}"))
  }

  /** Delete manifests older than the newest `keepHistory`+1 versions and
    * every data/delete dir no retained manifest references (crashed or
    * conflicted writers' orphans included), plus staging debris.
    *
    * `stagingGraceMs` is the LIVE-WRITER safety window: unreferenced
    * dirs and staging debris modified within the last `stagingGraceMs`
    * are left alone, because "unreferenced" cannot distinguish a
    * crashed writer's orphan from an IN-FLIGHT writer's staged work
    * that will become referenced at its imminent commit — sweeping the
    * latter would commit a manifest pointing at deleted files. With the
    * default `0` every orphan sweeps immediately (the r7 behavior —
    * run in a no-writer window); beside live writers pass a grace
    * comfortably above the longest stage-to-commit latency (e.g. 24 h
    * for a nightly job), and crashed writers' debris reclaims on the
    * next run after aging past it.
    */
  def vacuum(spark: SparkSession, warehouseDir: String, table: String,
      keepHistory: Int, stagingGraceMs: Long = 0L): Unit = {
    val base = root(warehouseDir, table)
    val fs = fsOf(spark, base)
    // a file delete ignores the recursive flag, so one uniform call
    vacuumTargets(spark, warehouseDir, table, keepHistory, stagingGraceMs)
      .foreach { case (_, p) => fs.delete(p, true) }
  }

  /** Translate a TIME-based retention ("keep 7 days of history") into
    * [[vacuum]]/[[vacuumPlan]]'s `keepHistory` count: the number of
    * history versions needed so every read-as-of instant ≥ `sinceMillis`
    * still resolves ([[versionAtTime]]'s contract — the newest version
    * at-or-before the instant must survive, plus everything after it).
    * Clock honesty matches the rest of the `#ts` story: commit stamps
    * are informational wall-clocks, so skewed writers shift WHICH real
    * version a boundary instant resolves to, never whether reads stay
    * coherent. Versions predating `#ts` (pre-r8) count as infinitely
    * old — retained only if at-or-after the resolved boundary version.
    */
  def retentionFor(spark: SparkSession, warehouseDir: String,
      table: String, sinceMillis: Long): Int = {
    val versions = listVersions(spark, warehouseDir, table)
    if (versions.isEmpty) return 0
    // newest version committed at-or-before the instant (None = every
    // stamped version is later → only the later ones need retaining,
    // but the boundary read then resolves to the OLDEST version, so
    // keep everything: never let a time-travel read die to a vacuum)
    val boundary = versions.reverse.find(v =>
      commitTimestamp(spark, warehouseDir, table, Some(v))
        .exists(_ <= sinceMillis))
    boundary match {
      case Some(b) => versions.size - 1 - versions.indexOf(b)
      case None => versions.size - 1
    }
  }

  /** [[vacuum]] with time-based retention: reclaim history no
    * read-as-of instant ≥ `sinceMillis` can reach.
    */
  def vacuumOlderThan(spark: SparkSession, warehouseDir: String,
      table: String, sinceMillis: Long, stagingGraceMs: Long = 0L): Unit =
    vacuum(spark, warehouseDir, table,
      retentionFor(spark, warehouseDir, table, sinceMillis), stagingGraceMs)

  /** DRY RUN of [[vacuum]]: exactly what a real vacuum with the same
    * arguments would delete, as (kind ∈ manifest | commit-marker |
    * parts | deletes | blooms | staging, path) — the operator's
    * look-before-you-leap for an irreversible sweep. Shares the
    * planner with [[vacuum]] itself, so the report cannot drift from
    * the action (modulo activity between the two calls).
    */
  def vacuumPlan(spark: SparkSession, warehouseDir: String, table: String,
      keepHistory: Int, stagingGraceMs: Long = 0L): DataFrame = {
    import spark.implicits._
    vacuumTargets(spark, warehouseDir, table, keepHistory, stagingGraceMs)
      .map { case (kind, p) => (kind, p.toString) }
      .toDF("kind", "path")
  }

  private def vacuumTargets(spark: SparkSession, warehouseDir: String,
      table: String, keepHistory: Int, stagingGraceMs: Long)
      : Seq[(String, Path)] = {
    require(keepHistory >= 0, "keepHistory >= 0")
    val base = root(warehouseDir, table)
    val fs = fsOf(spark, base)
    val versions = listVersions(spark, warehouseDir, table)
    if (versions.isEmpty) return Nil
    val cutoff = System.currentTimeMillis() - stagingGraceMs
    def aged(s: org.apache.hadoop.fs.FileStatus): Boolean =
      s.getModificationTime <= cutoff
    val retained = versions.takeRight(keepHistory + 1)
    val referenced = retained.flatMap { v =>
      manifestEntries(spark, warehouseDir, table, Some(v)).values
        .flatMap(e => (e.dir +: e.deletes) ++ e.bloom)
    }.toSet
    val manifests = versions.filterNot(retained.contains).flatMap { v =>
      Seq("manifest" -> manifestPath(base, v),
        "commit-marker" -> new Path(base,
          s"commits/${manifestPath(base, v).getName.stripPrefix("_")}"))
    }
    val gens = Seq("parts", "deletes", "blooms").flatMap { sub =>
      val d = new Path(base, sub)
      if (!fs.exists(d)) Nil
      else fs.listStatus(d).toSeq.flatMap { keyDir =>
        fs.listStatus(keyDir.getPath).toSeq.collect {
          case genDir if !referenced.contains(
              s"$sub/${keyDir.getPath.getName}/${genDir.getPath.getName}") &&
              aged(genDir) =>
            sub -> genDir.getPath
        }
      }
    }
    val staging = fs.listStatus(base).toSeq
      .filter(s => s.getPath.getName.startsWith("._stage.") ||
        s.getPath.getName.startsWith("._dvstage.") ||
        s.getPath.getName.startsWith("._bstage.") ||
        s.getPath.getName.startsWith("._m."))
      .filter(aged)
      .map(s => "staging" -> s.getPath)
    manifests ++ gens ++ staging
  }

  /** The partitions a maintenance pass SHOULD fold, by policy — the
    * compaction planner's trigger, driver-side metadata only (one
    * listing per live partition, the [[partitionFileStats]] cost
    * profile; no data reads). A partition qualifies when its live
    * generation sprawls past `maxFiles` files, carries any outstanding
    * delete vectors (folding restores count exactness and the
    * anti-join-free read plan), or averages under `minFileBytes` per
    * file while holding more than one (the small-files disease).
    * Returns (part_value, n_files, bytes, n_dvs, reason); feed the
    * values straight to [[compactPartitionsMulti]] (or call
    * [[compactSuggested]]).
    */
  def suggestCompaction(spark: SparkSession, warehouseDir: String,
      table: String, maxFiles: Int = 8,
      minFileBytes: Long = 32L << 20): DataFrame = {
    import spark.implicits._
    val base = root(warehouseDir, table)
    val fs = fsOf(spark, base)
    manifestEntries(spark, warehouseDir, table).toSeq.flatMap {
      case (k, e) =>
        // metadata-first cost profile: file count from the generation's
        // _filestats sidecar, bytes from the manifest entry — the
        // planner pass lists NOTHING for post-r8 generations (the
        // listing fallback covers older ones)
        val (nFiles, bytes) =
          (readFileStats(fs, base, e.dir).map(_.size.toLong),
              Option(e.bytes).filter(_ >= 0)) match {
            case (Some(n), Some(b)) => (n, b)
            case _ =>
              val files = fs.listStatus(new Path(base, e.dir)).toSeq
                .filter(s => !s.getPath.getName.startsWith("_"))
              (files.size.toLong, files.map(_.getLen).sum)
          }
        val reason =
          if (e.deletes.nonEmpty) Some("delete-vectors")
          else if (nFiles > maxFiles) Some("file-sprawl")
          else if (nFiles > 1 && bytes / nFiles < minFileBytes)
            Some("small-files")
          else None
        reason.map(r =>
          (valueOf(k), k, nFiles, bytes, e.deletes.size.toLong, r))
    }.toDF("part_value", "part_key", "n_files", "bytes", "n_dvs", "reason")
  }

  /** The partitions whose FILE LAYOUT defeats file-level pruning on
    * `sortCol` — the [[optimizeClustered]] advisor, computed from the
    * `_filestats` sidecars alone (zero data reads, zero listing beyond
    * the sidecar files). For each live partition with ≥2 recorded
    * files: `overlap` = the mean fraction of OTHER files whose
    * `sortCol` range intersects each file's — 0.0 for a perfectly
    * clustered layout (disjoint slices: every range predicate scans
    * ~1 file), →1.0 for scattered ingest (every file spans the
    * domain: file stats prune nothing). Partitions past `threshold`
    * are the ones a nightly OPTIMIZE should rewrite; feed the values
    * straight to [[optimizeClustered]]. Conservatively SILENT on
    * doubt: single-file partitions (nothing to prune within), missing
    * sidecars, unrecorded/incomparable ranges (never flag what we
    * cannot measure), all-NULL files (no range to overlap).
    */
  def suggestClustering(spark: SparkSession, warehouseDir: String,
      table: String, sortCol: String,
      threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    val base = root(warehouseDir, table)
    val fs = fsOf(spark, base)
    val schema = manifestSchema(spark, warehouseDir, table)
    val dt = schema.flatMap(_.fields.find(_.name == sortCol)).map(_.dataType)
    manifestEntries(spark, warehouseDir, table).toSeq.flatMap {
      case (k, e) =>
        val ranges = readFileStats(fs, base, e.dir).map(_.flatMap {
          case (_, st, _) => st.get(sortCol).collect {
            case ColRange(Some(lo), Some(hi), _) => (lo, hi)
          }
        })
        (ranges, dt) match {
          case (Some(rs), Some(t)) if rs.size >= 2 =>
            // mean pairwise intersection fraction; any incomparable
            // token pair poisons the measurement → skip the partition
            val pairs = for {
              i <- rs.indices; j <- rs.indices if i < j
            } yield for {
              c1 <- ZoneMaps.cmp(rs(i)._1, rs(j)._2, t)
              c2 <- ZoneMaps.cmp(rs(j)._1, rs(i)._2, t)
            } yield if (c1 <= 0 && c2 <= 0) 1.0 else 0.0
            if (pairs.exists(_.isEmpty)) None
            else {
              val overlap = pairs.flatten.sum / pairs.size
              if (overlap > threshold)
                Some((valueOf(k), k, rs.size.toLong, overlap))
              else None
            }
          case _ => None
        }
    }.toDF("part_value", "part_key", "n_files", "overlap")
  }

  /** Plan with [[suggestClustering]] and rewrite every flagged
    * partition clustered on `sortCols` in one committed version
    * (no-op → no new version). Returns the flagged partition values —
    * the nightly OPTIMIZE in one call: measure from sidecar metadata,
    * rewrite only where file pruning is actually defeated.
    */
  def optimizeSuggested(spark: SparkSession, warehouseDir: String,
      table: String, sortCols: Seq[String], threshold: Double = 0.5,
      filesPerPartition: Int = 8): Seq[Seq[String]] = {
    require(sortCols.nonEmpty, "optimizeSuggested needs sort columns")
    val partCols = partitionColumns(spark, warehouseDir, table).getOrElse(
      throw new IllegalStateException(
        s"$table records no #partcols header"))
    val picked = suggestClustering(spark, warehouseDir, table,
        sortCols.head, threshold)
      .select("part_key").collect().map(_.getString(0)).toSeq
      .map(partValuesOf)
    if (picked.nonEmpty)
      optimizeClustered(spark, warehouseDir, table, partCols, picked,
        sortCols, filesPerPartition)
    picked
  }

  /** Join `fact` against this manifest table with ZERO-probe planning:
    * the broadcast decision comes from manifest metadata alone — the
    * recorded row counts ([[rowCount]]; an upper bound under delete
    * vectors, which is the SAFE direction for a size gate) and the
    * on-disk parquet bytes (one listing per live partition, no data
    * reads) scaled by `decodeFactor` (decoded in-memory rows are a few
    * × their columnar-compressed bytes — 4 is conservative for the
    * TPC-H-ish shapes). Contrast `Skew.joinWithSkewPolicy`, which must
    * EXECUTE a bounded probe of an arbitrary DataFrame: a warehouse
    * dim's size is already on file, so the decision costs nothing and
    * never touches the data twice. Falls to a plain shuffle join (AQE
    * territory) when stats are unknowable (pre-stats manifests), the
    * gate fails, or the join type cannot build the dim side.
    * Returns (joined, "broadcast" | "plain") — the decision always
    * reflects the executed plan.
    */
  def joinWithStats(spark: SparkSession, warehouseDir: String,
      table: String, fact: DataFrame, keys: Seq[String],
      joinType: String = "inner", broadcastRows: Long = 1000000L,
      broadcastBytes: Long = 128L << 20, decodeFactor: Long = 4L)
      : (DataFrame, String) = {
    require(keys.nonEmpty, "keys must be nonempty")
    val dim = read(spark, warehouseDir, table)
    val rightCanBuild = Set("inner", "left", "left_outer", "left_semi",
      "left_anti", "cross").contains(joinType)
    val rows = rowCountUpper(spark, warehouseDir, table)
    // manifest-recorded bytes when available (zero listing); listing
    // fallback only for pre-bytes manifests
    val bytes = byteSize(spark, warehouseDir, table).orElse(
      partitionFileStats(spark, warehouseDir, table)
        .agg(sum(col("bytes"))).head() match {
        case r if r.isNullAt(0) => None
        case r => Some(r.getLong(0))
      })
    (rows, bytes) match {
      case (Some(n), Some(b)) if rightCanBuild &&
          n <= broadcastRows && b * decodeFactor <= broadcastBytes =>
        (fact.join(broadcast(dim), keys, joinType), "broadcast")
      case _ => (fact.join(dim, keys, joinType), "plain")
    }
  }

  /** The column's EXACT NULL count from the manifest alone — Some only
    * when every entry records the column's null count and no delete
    * vectors are outstanding (together with [[rowCount]] this answers
    * `count(col)` = rows − nulls with zero data reads).
    */
  def nullCount(spark: SparkSession, warehouseDir: String, table: String,
      column: String, asOf: Option[Int] = None): Option[Long] = {
    val schema = manifestSchema(spark, warehouseDir, table, asOf)
    val entries = manifestEntries(spark, warehouseDir, table, asOf)
      .values.toSeq
      .map(e => e.copy(stats = logicalStats(e.stats, schema)))
    if (entries.exists(_.deletes.nonEmpty) ||
        entries.exists(e => !e.stats.get(column).exists(_.nulls >= 0))) None
    else Some(entries.map(_.stats(column).nulls).sum)
  }

  /** The version's total DATA byte size from the manifest alone (sum
    * of each live generation's recorded size — physical parquet bytes,
    * unaffected by outstanding delete vectors). None when any entry
    * predates byte recording; callers then fall back to listing
    * ([[partitionFileStats]]) or a conservative maximum.
    */
  def byteSize(spark: SparkSession, warehouseDir: String, table: String,
      asOf: Option[Int] = None): Option[Long] = {
    val entries = manifestEntries(spark, warehouseDir, table, asOf)
      .values.toSeq
    if (entries.exists(_.bytes < 0)) None
    else Some(entries.map(_.bytes).sum)
  }

  /** [[rowCount]] relaxed to an UPPER bound: recorded counts summed
    * even when delete vectors are outstanding (deletes only shrink).
    * None only when any entry predates row recording — then nothing
    * bounds the table.
    */
  def rowCountUpper(spark: SparkSession, warehouseDir: String,
      table: String, asOf: Option[Int] = None): Option[Long] = {
    val entries = manifestEntries(spark, warehouseDir, table, asOf)
      .values.toSeq
    if (entries.exists(_.rows < 0)) None
    else Some(entries.map(_.rows).sum)
  }

  /** Plan with [[suggestCompaction]] and fold every suggested
    * partition in one committed version (no-op → no new version).
    * Returns the suggested partition values.
    */
  def compactSuggested(spark: SparkSession, warehouseDir: String,
      table: String, maxFiles: Int = 8,
      minFileBytes: Long = 32L << 20): Seq[Seq[String]] = {
    val partCols = partitionColumns(spark, warehouseDir, table).getOrElse(
      throw new IllegalStateException(
        s"$table records no #partcols header"))
    val picked = suggestCompaction(spark, warehouseDir, table, maxFiles,
        minFileBytes)
      .select("part_key").collect().map(_.getString(0)).toSeq
      .map(partValuesOf)
    if (picked.nonEmpty)
      compactPartitionsMulti(spark, warehouseDir, table, partCols, picked)
    picked
  }
}
