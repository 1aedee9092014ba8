package graftbench

import java.nio.file.{Files, Path => JPath, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, count, lit, max, sum}

import graft.core.{Merge, Normalize, Pipeline, Temporal, Watermark, WatermarkStore}
import graft.io.{ManifestVersioned, ManifestWarehouseAdapter, MergeCapableWarehouse,
  ParquetWarehouseAdapter, Tables, WarehouseAdapter}

/** The nightly ETL benchmark program: one process, one Spark session.
  *
  * Lands the generator's staged drops night by night (a rename, so the
  * generator's mtimes stand), runs the nightly over every folder, times it,
  * runs the consumer read set, and writes what it saw to `result.json` for
  * the checker. Before night 0 it runs first sights into scratch
  * warehouses ([[scratchFirstSights]]). Every night the plan stages is run;
  * the first `--warmup` incremental nights are not timed. Around every timed
  * sample it reads the machine's CPU counters, so that `run.py` can take the
  * share the hypervisor stole out of each wall time. With `--trace 0` each night is the real
  * entry point, `Pipeline.run`. With `--trace 1` odd nights run
  * `Pipeline.run` whole, and its Spark jobs and filesystem calls are
  * attributed to layer calls by call site ([[Layers]]); even nights replay
  * the same nightly through the public calls of each layer, only to time
  * each call.
  *
  * Usage (after `run.py` has compiled it and generated the inputs):
  * {{{
  * java ... graftbench.NightlyBench --work DIR --adapter parquet|manifest
  *   --mode overwrite|merge --trace 0|1 --warmup W --launched-ms EPOCH_MS
  * }}}
  */
object NightlyBench {
  private val Key = "systemid"
  private val Tz = "Africa/Nairobi"
  /** Folders the consumer read set reads, the first by name. */
  private val ReadFolders = 3
  /** Timed first sights into scratch warehouses, besides night 0. */
  private val TimedScratchFirstSights = 1
  val WholeRun = "core.Pipeline.run"

  def main(argv: Array[String]): Unit = {
    val launchHost = HostCpu.sample()
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath.toString
    val trace = a("trace") == "1"
    val cpus = math.min(Runtime.getRuntime.availableProcessors, 4)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-nightly-bench")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    if (trace) {
      // call sites deep enough to reach Pipeline.run from the innermost frame
      System.setProperty("spark.callstack.depth", "400")
      builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      CountingLocalFileSystem.sourceRoot = s"$work/source"
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new NightlyBench(spark, work, a, trace, launchHost).run()
    spark.stop()
  }
}

final class NightlyBench(spark: SparkSession, work: String,
    a: Map[String, String], trace: Boolean, launchHost: (Long, Long)) {
  import NightlyBench._

  private val plan: JsonNode = new ObjectMapper().readTree(Paths.get(work, "plan.json").toFile)
  private val folders: Seq[String] =
    plan.get("folders").elements().asScala.map(_.get("folder").asText).toSeq
  private val sumCol: Map[String, String] = plan.get("folders").elements().asScala
    .map(f => f.get("folder").asText -> f.get("sum_col").asText).toMap
  private val readFolders = folders.sorted.take(ReadFolders)
  private val lastNight = plan.get("nights").asInt
  private val t0 = plan.get("t0").asLong
  private val day = plan.get("day").asLong
  private val source = s"$work/source"
  private val warehouse = s"$work/warehouse"
  private val adapter: WarehouseAdapter = a("adapter") match {
    case "parquet" => ParquetWarehouseAdapter
    case "manifest" => new ManifestWarehouseAdapter(shards = 8, mergeKey = Some(Key))
  }
  private val mergeMode = a("mode") == "merge"
  private val cfg = Pipeline.Config(sourceRoot = source, warehouseDir = warehouse,
    statePath = s"$work/state/watermarks", keyCol = Key, timezone = Tz,
    adapter = adapter, mode = if (mergeMode) Pipeline.MergeMode else Pipeline.OverwriteMode)
  private val listener = new SpanListener
  private val cpuBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def run(): Unit = {
    Pipeline.recover(spark, cfg)
    val setupS = (System.currentTimeMillis() - a("launched-ms").toLong) / 1000.0
    val setupSteal = HostCpu.stealShareSince(launchHost)
    land(0)
    val firstSights = scratchFirstSights()
    if (trace) spark.sparkContext.addSparkListener(listener)
    val warmup = a("warmup").toInt
    var walk = Walk.of(warehouse)
    val nights = (0 to lastNight).map { n =>
      land(n)
      System.gc()
      val fsBytes0 = fsBytesWritten()
      val host0 = HostCpu.sample()
      val (wall, cpu, loads, spans) = night(n)
      val steal = HostCpu.stealShareSince(host0)
      val fsBytes = fsBytesWritten() - fsBytes0
      val after = Walk.of(warehouse)
      val written = after.bytesChangedSince(walk)
      val wholeCounts = if (!isWhole(n)) Map.empty else Map(
        "dirs_rewritten" -> after.dirsChangedSince(walk).size,
        "table_bytes" -> folders.map(f => f -> tableBytes(Normalize.tableName(f))).toMap)
      walk = after
      val readHost0 = HostCpu.sample()
      val (readWall, reads, readSpans) = if (n == 0) (0.0, Nil, Map.empty[String, Any])
        else consumerReads(n)
      val readSteal = HostCpu.stealShareSince(readHost0)
      Map("night" -> n, "timed" -> (n > warmup), "wall_s" -> wall, "cpu_s" -> cpu, "steal" -> steal,
        "read_s" -> readWall, "read_steal" -> readSteal, "write_bytes" -> written, "fs_bytes_written" -> fsBytes,
        "loads" -> loads, "reads" -> reads, "spans" -> spans, "read_spans" -> readSpans,
        "kind" -> (if (trace && !isWhole(n)) "replay" else "run")) ++ wholeCounts
    }
    val peakRss = vmHwmMb()
    val exported = export()
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(
      Paths.get(work, "result.json").toFile, Map("setup_s" -> setupS, "setup_steal" -> setupSteal,
        "first_sights" -> firstSights, "nights" -> nights,
        "warehouse_bytes" -> walk.totalBytes, "peak_rss_mb" -> peakRss, "tables" -> exported))
  }

  /** Moves night n's staged files into the source folders. */
  private def land(n: Int): Unit = {
    val stage = Paths.get(work, "stage", f"$n%04d")
    folders.foreach { folder =>
      val dst = Paths.get(source, folder)
      Files.createDirectories(dst)
      val src = stage.resolve(folder)
      if (Files.isDirectory(src)) Files.list(src).iterator().asScala.toSeq.foreach { f =>
        Files.move(f, dst.resolve(f.getFileName))
      }
    }
  }

  /** First sights of night 0's drop into scratch warehouses, before the
    * warehouse's own (night 0). The first is untimed: it pays for class
    * loading and JIT compilation, whose length varies from run to run. The
    * others are timed like night 0, as more samples of the first sight.
    * Returns the wall time and steal share of each timed one.
    */
  private def scratchFirstSights(): Seq[Map[String, Double]] =
    (0 to TimedScratchFirstSights).map { i =>
      val dir = Paths.get(work, s"first-sight-$i")
      System.gc()
      val host0 = HostCpu.sample()
      val w0 = System.nanoTime()
      Pipeline.run(spark, cfg.copy(warehouseDir = s"$dir/warehouse", statePath = s"$dir/state"),
        clock = clock(0)).tables.foreach(_.rows.get)
      val wall = (System.nanoTime() - w0) / 1e9
      val steal = HostCpu.stealShareSince(host0)
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
      Map("wall_s" -> wall, "steal" -> steal)
    }.drop(1)

  /** Whether traced night n runs `Pipeline.run` whole (else it is replayed). */
  private def isWhole(n: Int): Boolean = trace && n % 2 == 1

  private def clock(n: Int): Column = lit(new java.sql.Timestamp((t0 + n * day) * 1000L))

  /** One night over all folders: (wall s, cpu s, per-folder row counts,
    * per-span totals when traced).
    */
  private def night(n: Int): (Double, Double, Map[String, Any], Map[String, Any]) = {
    val spans = new Spans(n)
    val w0 = System.nanoTime()
    val c0 = cpuBean.getProcessCpuTime
    val tables: Seq[(String, Try[Long])] =
      if (!trace) Pipeline.run(spark, cfg, clock = clock(n)).tables.map(t => t.folder -> t.rows)
      else if (isWhole(n)) spans.wholeRun {
        Pipeline.run(spark, cfg, clock = clock(n)).tables.map(t => t.folder -> t.rows)
      }
      else replay(n, spans)
    val wall = (System.nanoTime() - w0) / 1e9
    val cpu = (cpuBean.getProcessCpuTime - c0) / 1e9
    val loads = tables.map { case (f, r) =>
      f -> (r match {
        case Success(rows) => rows
        case Failure(e) => System.err.println(s"load $f night $n failed: $e"); -1L
      })
    }.toMap
    (wall, cpu, loads, spans.report())
  }

  /** `Pipeline.run`, call for call, through the public layer calls, each
    * call timed.
    */
  private def replay(n: Int, spans: Spans): Seq[(String, Try[Long])] = {
    import Layers._
    spans.timed(Recover) { Pipeline.recover(spark, cfg) }
    val all = Pipeline.discoverFolders(spark, cfg, Nil)
    val state = spans.timed(WatermarkLoad) { WatermarkStore.load(spark, cfg.statePath) }
    val results = all.map { folder =>
      folder -> Try {
        val table = Normalize.tableName(folder)
        state.get(folder) match {
          case None =>
            val raw = spans.timed(ReadCsv) { Tables.readCsvFolder(spark, s"$source/$folder") }
            val out = spans.timed(Plan) {
              val merged = Merge.latestWins(
                Merge.tombstoneFilter(Normalize.normalizeColumns(raw), Key,
                  Pipeline.bc2adlsTombstone), Seq(Key), Pipeline.latestOrder)
              Temporal.withExtractedAt(Normalize.renameReserved(
                Temporal.stringifyTemporals(merged)), Tz, clock(n))
            }
            spans.timed(Load) {
              if (mergeMode) adapter.asInstanceOf[MergeCapableWarehouse]
                .mergeBootstrap(out, warehouse, table, Key)
              else adapter.overwrite(out, warehouse, table)
            }
            spans.timed(Count) { adapter.read(spark, warehouse, table).count() }
          case Some(wm) =>
            val files = spans.timed(WatermarkList) {
              WatermarkStore.listFiles(spark, s"$source/$folder")
            }
            val fresh = WatermarkStore.newFiles(files, Some(wm))
            if (fresh.isEmpty) 0L
            else {
              val raw = spans.timed(ReadCsv) { Tables.readCsvFiles(spark, fresh) }
              if (mergeMode) {
                val change = spans.timed(Plan) { Pipeline.normalizeStage(raw, Tz, clock(n)) }
                spans.timed(Load) {
                  adapter.asInstanceOf[MergeCapableWarehouse].mergeChanges(spark,
                    warehouse, table, change, Key, Pipeline.latestOrder,
                    Pipeline.bc2adlsTombstone)
                }
              } else {
                val merged = spans.timed(Plan) {
                  val change = Pipeline.normalizeStage(raw, Tz, clock(n))
                  Merge.merge(adapter.read(spark, warehouse, table), change, Key,
                    Pipeline.latestOrder, Pipeline.bc2adlsTombstone)
                }
                spans.timed(Load) { adapter.replace(spark, warehouse, table, merged) }
              }
              spans.timed(Count) { adapter.read(spark, warehouse, table).count() }
            }
        }
      }
    }
    val ok = results.filter(_._2.isSuccess).map(_._1).toSet
    val marks = all.filter(ok).flatMap { folder =>
      WatermarkStore.maxByCreated(folder, spans.timed(WatermarkList) {
        WatermarkStore.listFiles(spark, s"$source/$folder")
      })
    }
    val kept = state.collect { case (f, wm) if !marks.exists(_.folder == f) => Watermark(f, wm) }
    if (marks.nonEmpty)
      spans.timed(WatermarkSave) { WatermarkStore.save(spark, marks ++ kept.toSeq, cfg.statePath) }
    results
  }

  /** The fixed consumer read set: per read folder, one point lookup of two
    * of the night's changed keys (one updated, one tombstoned) and one
    * aggregate scan; in merge mode also the same aggregate over the previous
    * version, by time travel.
    */
  private def consumerReads(n: Int): (Double, Seq[Map[String, Any]], Map[String, Any]) = {
    val spans = new Spans(n)
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    val lookups = plan.get("lookups").get(n.toString)
    val w0 = System.nanoTime()
    readFolders.foreach { folder =>
      val table = Normalize.tableName(folder)
      val s = col(sumCol(folder)).cast("long")
      def agg(df: DataFrame): Seq[Any] = row(df.agg(count(lit(1)), sum(s),
        max(col("systemmodifiedat"))).collect().head)
      val keys = lookups.get(folder).elements().asScala.map(_.asText).toSeq
      out += attempt("lookup", folder, keys.mkString(",")) {
        spans.lookup {
          adapter.read(spark, warehouse, table).filter(col(Key).isin(keys: _*))
            .select(col(Key), col("systemmodifiedat"), s).collect().toSeq.map(row)
            .sortBy(_.head.toString)
        }
      }
      out += attempt("aggregate", folder, "") {
        spans.grouped(Layers.Read) { agg(adapter.read(spark, warehouse, table)) }
      }
      if (mergeMode) out += attempt("time_travel", folder, "") {
        spans.grouped(Layers.Read) {
          val v = ManifestVersioned.currentVersion(spark, warehouse, table).get
          agg(ManifestVersioned.read(spark, warehouse, table, Some(v - 1)))
        }
      }
    }
    ((System.nanoTime() - w0) / 1e9, out.toSeq, spans.report())
  }

  private def attempt(kind: String, folder: String, key: String)(
      body: => Any): Map[String, Any] = {
    val base = Map("kind" -> kind, "folder" -> folder, "key" -> key)
    Try(body) match {
      case Success(v) => base + ("ok" -> true) + ("value" -> v)
      case Failure(e) =>
        System.err.println(s"$kind $folder $key failed: $e")
        base + ("ok" -> false)
    }
  }

  private def row(r: Row): Seq[Any] = r.toSeq.map {
    case null => null
    case v: java.lang.Number => v.longValue
    case v => v.toString
  }

  /** Each table's final state, without `extracted_at`, for the checker. */
  private def export(): Map[String, Any] = folders.map { folder =>
    val table = Normalize.tableName(folder)
    val df = adapter.read(spark, warehouse, table)
    df.drop("extracted_at").write.parquet(s"$work/export/$table")
    folder -> Map("table" -> table, "columns" -> df.columns.toSeq)
  }.toMap

  private def fsBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Per-night span totals when traced, a no-op otherwise. A replayed call
    * records its wall time. A grouped call (the whole `Pipeline.run`, the
    * consumer reads) also sets a Spark job group, whose jobs the listener
    * sums, and counts filesystem calls; a whole run's jobs and metadata calls
    * are also summed per layer.
    */
  private final class Spans(n: Int) {
    private val totals = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]
    private val groups = mutable.LinkedHashSet.empty[String]

    def add(name: String, k: String, v: Double): Unit = {
      val m = totals.getOrElseUpdate(name, mutable.LinkedHashMap.empty)
      m(k) = m.getOrElse(k, 0.0) + v
    }

    def timed[T](name: String)(body: => T): T =
      if (!trace) body
      else {
        val w0 = System.nanoTime()
        try body finally add(name, "wall_s", (System.nanoTime() - w0) / 1e9)
      }

    def grouped[T](name: String)(body: => T): T =
      if (!trace) body
      else {
        val sc = spark.sparkContext
        val meta0 = CountingLocalFileSystem.meta.get
        groups += name
        sc.setJobGroup(s"$name@$n", name)
        try timed(name)(body)
        finally {
          sc.clearJobGroup()
          add(name, "fs_meta_ops", CountingLocalFileSystem.meta.get - meta0)
        }
      }

    /** A whole `Pipeline.run`, with its work attributed to layers. */
    def wholeRun[T](body: => T): T = {
      val csv0 = CountingLocalFileSystem.sourceCsvBytes.get
      val lists0 = CountingLocalFileSystem.sourceFolderLists.get
      CountingLocalFileSystem.takeMetaByLayer()
      CountingLocalFileSystem.pipelineThread = Thread.currentThread
      val r = try grouped(WholeRun)(body) finally CountingLocalFileSystem.pipelineThread = null
      add(WholeRun, "source_csv_bytes", CountingLocalFileSystem.sourceCsvBytes.get - csv0)
      add(WholeRun, "source_folder_lists", CountingLocalFileSystem.sourceFolderLists.get - lists0)
      CountingLocalFileSystem.takeMetaByLayer().foreach { case (l, c) => add(l, "fs_meta_ops", c) }
      groups ++= Layers.All
      r
    }

    def lookup[T](body: => T): T = {
      val p0 = CountingLocalFileSystem.parquetOpens.get
      val r = grouped(Layers.Read)(body)
      add(Layers.Read, "lookups", 1)
      add(Layers.Read, "lookup_parquet_opens", CountingLocalFileSystem.parquetOpens.get - p0)
      r
    }

    def report(): Map[String, Any] = {
      if (!trace) return Map.empty
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      groups.foreach { name =>
        listener.take(s"$name@$n").foreach(_.foreach { case (k, v) => add(name, k, v) })
      }
      totals.map { case (k, v) => k -> v.toMap }.toMap
    }
  }

  /** The bytes of a table's current data files. */
  private def tableBytes(table: String): Long = adapter match {
    case ParquetWarehouseAdapter => Walk.of(s"$warehouse/$table").files.collect {
      case (p, (size, _)) if p.endsWith(".parquet") => size
    }.sum
    case _ => ManifestVersioned.partitionFileStats(spark, warehouse, table)
      .collect().map(_.getAs[Long]("bytes")).sum
  }
}

/** Sums Spark work per job group. Jobs of a whole `Pipeline.run` are also
  * summed per layer (as `<layer>@<night>`), by the call site of their SQL
  * execution, else of their first stage.
  */
final class SpanListener extends SparkListener {
  private val Fields = Seq("jobs", "task_s", "input_bytes", "shuffle_bytes", "output_bytes",
    "output_rows")
  private val stageKeys = new ConcurrentHashMap[Int, Seq[String]]()
  private val totals = new ConcurrentHashMap[String, Array[Double]]()
  private val execSites = new ConcurrentHashMap[Long, Option[String]]()
  private val tracker = new LayerTracker

  private def add(keys: Seq[String], i: Int, v: Double): Unit = keys.foreach { k =>
    val a = totals.computeIfAbsent(k, _ => new Array[Double](Fields.size))
    a.synchronized { a(i) += v }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execSites.put(s.executionId, Layers.site(Layers.frames(s.details)))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val group = prop("spark.jobGroup.id").getOrElse("")
    val keys = if (!group.startsWith(NightlyBench.WholeRun + "@")) Seq(group) else {
      val site = prop("spark.sql.execution.id").flatMap(id => Option(execSites.get(id.toLong)))
        .flatten.orElse(e.stageInfos.headOption.flatMap(s => Layers.site(Layers.frames(s.details))))
      group +: site.map(s => tracker.layer(s) + group.substring(group.indexOf('@'))).toSeq
    }
    e.stageIds.foreach(stageKeys.put(_, keys))
    add(keys, 0, 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val keys = stageKeys.getOrDefault(e.stageId, Seq(""))
      add(keys, 1, m.executorRunTime / 1000.0)
      add(keys, 2, m.inputMetrics.bytesRead)
      add(keys, 3, m.shuffleWriteMetrics.bytesWritten)
      add(keys, 4, m.outputMetrics.bytesWritten)
      add(keys, 5, m.outputMetrics.recordsWritten)
    }
  }

  /** The totals of one key by field, removed; None if it had no job. */
  def take(key: String): Option[Map[String, Double]] =
    Option(totals.remove(key)).map(a => Fields.zip(a).toMap)
}

/** The machine's CPU time counters (`/proc/stat`). */
object HostCpu {
  /** (ticks stolen by the hypervisor, ticks busy or stolen) */
  def sample(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .slice(1, 9).map(_.toLong) // user nice system idle iowait irq softirq steal
    (f(7), f.sum - f(3) - f(4))
  }

  /** The share of busy-or-stolen CPU time stolen since `s0`. */
  def stealShareSince(s0: (Long, Long)): Double = {
    val (steal, busy) = sample()
    if (busy == s0._2) 0.0 else (steal - s0._1).toDouble / (busy - s0._2)
  }
}

/** A snapshot of the files under a directory: path -> (size, mtime). */
final case class Walk(files: Map[String, (Long, Long)]) {
  def totalBytes: Long = files.values.map(_._1).sum

  private def changedSince(before: Walk): Iterable[(String, (Long, Long))] =
    files.filter { case (p, sm) => !before.files.get(p).contains(sm) }

  /** Bytes of files that are new or rewritten since `before`. */
  def bytesChangedSince(before: Walk): Long = changedSince(before).map(_._2._1).sum

  def dirsChangedSince(before: Walk): Set[String] =
    changedSince(before).collect {
      case (p, _) if !p.endsWith(".crc") && !Paths.get(p).getFileName.toString.startsWith("_") =>
        Paths.get(p).getParent.toString
    }.toSet
}

object Walk {
  def of(dir: String): Walk = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) Walk(Map.empty)
    else {
      val s = Files.walk(root)
      try Walk(s.iterator().asScala.filter(Files.isRegularFile(_)).map { p: JPath =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap)
      finally s.close()
    }
  }
}
