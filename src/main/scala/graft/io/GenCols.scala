package graft.io

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** GENERATED PARTITION COLUMNS — the manifest layer's "hidden
  * partitioning" (the Iceberg partition-transform / Delta
  * generated-column shape): a table declares, as a durable property,
  * that a stored column is a pure TRANSFORM of another column
  *
  * {{{
  *   graft.generated.p_day  = days(event_ts)     -- UTC calendar day
  *   graft.generated.p_hour = hours(event_ts)    -- epoch hour
  *   graft.generated.p_mon  = months(event_ts)   -- year*12+month-1
  *   graft.generated.p_yr   = years(event_ts)    -- UTC year
  *   graft.generated.p_bkt  = bucket(16, id)     -- pmod(id, 16)
  *   graft.generated.p_rng  = trunc(1000, id)    -- id div 1000
  *   graft.generated.p_key  = keybucket(8, id)   -- 'k' || pmod(xxhash64(id), 8)
  *                                               -- (integral ids hashed as long)
  * }}}
  *
  * and the engine takes over both ends of the contract:
  *
  *  - WRITES derive the column when a batch omits it (every write
  *    path: writeDelta/writeFull, the nightly merge's change side,
  *    appendRows/SQL INSERT, the streaming sink) — callers partition
  *    by `p_day` without ever computing it; a batch that DOES carry
  *    the column is verified row-for-row against the transform in the
  *    same single pre-staging gate the CHECK constraints use (a wrong
  *    provided value would silently break read-time pruning, the one
  *    sin the layer never commits — so it rejects loudly instead).
  *  - READS derive PRUNING predicates: a filter on the SOURCE column
  *    (`event_ts BETWEEN a AND b`) implies a filter on the generated
  *    column (`p_day BETWEEN days(a) AND days(b)`) — monotone
  *    transforms derive range bounds, bucket derives equality/IN —
  *    which the existing zone/file machinery then prunes with. Since
  *    the generated column is typically THE partition column (its
  *    per-partition range is a single value), this turns a raw-
  *    timestamp predicate into manifest-level partition pruning with
  *    no user-visible partition bookkeeping.
  *
  * Timezone contract: the temporal transforms are defined in UTC (the
  * engine's universal session assumption — zone-map timestamp tokens
  * render UTC-fixed for the same reason). Instant-typed sources
  * (TIMESTAMP) gate on the session actually being UTC: the WRITE side
  * requires it loudly (a non-UTC writer would store values that
  * disagree with the definition and poison every future prune); the
  * READ side simply declines to derive (conservative — pruning is
  * lost, correctness is not). Wall-clock types (DATE, TIMESTAMP_NTZ)
  * and integral transforms are timezone-free.
  *
  * Soundness of derivation, stated once: for every admitted (pred,
  * transform) pair the derived pred is IMPLIED by the original —
  * monotone f turns `src > v` into `gen >= f(v)` (collapse loses
  * strictness, never rows), equality maps through any f, IS [NOT]
  * NULL maps because every transform is null-in-null-out — and the
  * caller always applies its original residual filter, so a
  * derivation miss costs pruning opportunity, never correctness.
  * The one exception to null-in-null-out is `keybucket`: xxhash64
  * skips NULL inputs, so a NULL key hashes to the seed and lands in a
  * real bucket — IS [NOT] NULL therefore derives nothing through it.
  *
  * `keybucket(n, key)` is the hash-shard layout of a keyed table (the
  * manifest warehouse adapter's merge layout declares its shard column
  * this way): the bucket is a pure function of the key, so a change
  * batch's touched buckets are exactly the buckets of its own rows —
  * the keyed merge needs no locate probe against the stored table.
  * That holds only if a key hashes the same at every type a batch may
  * carry it: integral keys hash as `long` (so the byte → short → int →
  * long widening chain keeps every bucket), and the write paths derive
  * the column from the source conformed to the table's recorded type
  * (an `int` batch into a `string` key column hashes `"5"`, as stored).
  * A widening that would move a key's hash (integral → double or
  * decimal, decimal growth) is rejected on a keybucket source
  * ([[hashStable]]).
  */
object GenCols {

  /** The property-key prefix a generated column declares under. */
  val Prefix = "graft.generated."

  /** One parsed declaration: `genCol = fn([arg,] src)`. */
  final case class GenSpec(genCol: String, fn: String, arg: Option[Long],
      src: String)

  private val SpecRe = """(?i)\s*(days|hours|months|years)\s*\(\s*([A-Za-z_][\w]*)\s*\)\s*""".r
  private val SpecArgRe = """(?i)\s*(bucket|trunc|keybucket)\s*\(\s*(\d+)\s*,\s*([A-Za-z_][\w]*)\s*\)\s*""".r

  /** Parse every `graft.generated.*` property; unknown spellings throw
    * (a silently-ignored declaration would skip the write-side
    * derivation and verification forever).
    */
  def parse(props: Map[String, String]): Seq[GenSpec] =
    props.toSeq.collect {
      case (k, v) if k.startsWith(Prefix) =>
        val g = k.stripPrefix(Prefix)
        v match {
          case SpecRe(fn, src) =>
            GenSpec(g, fn.toLowerCase, None, src)
          case SpecArgRe(fn, n, src) =>
            val arg = n.toLong
            require(arg > 0, s"$k: ${fn.toLowerCase} needs a positive " +
              s"argument, got $arg")
            GenSpec(g, fn.toLowerCase, Some(arg), src)
          case other => throw new IllegalArgumentException(
            s"unparseable generated-column spec $k = '$other' — expected " +
              "days(src) | hours(src) | months(src) | years(src) | " +
              "bucket(n, src) | trunc(n, src) | keybucket(n, src)")
        }
    }.sortBy(_.genCol)

  private def temporal(dt: DataType): Boolean = dt match {
    case DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def atomic(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => false
    case _ => true
  }

  /** The transform's output type for a given source type; None = the
    * (fn, srcType) pair is not admitted.
    */
  def outputType(fn: String, srcType: DataType): Option[DataType] =
    fn match {
      case "days" if temporal(srcType) => Some(DateType)
      case "months" | "years" if temporal(srcType) => Some(IntegerType)
      case "hours" if srcType == TimestampType ||
        srcType == TimestampNTZType => Some(LongType)
      case "bucket" if integral(srcType) => Some(IntegerType)
      case "trunc" if integral(srcType) => Some(LongType)
      case "keybucket" if atomic(srcType) => Some(StringType)
      case _ => None
    }

  /** Validate `specs` against a recorded/written schema — every rule a
    * wrong declaration could otherwise smuggle past the write path.
    */
  def validate(specs: Seq[GenSpec], schema: StructType): Unit = {
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    specs.foreach { s =>
      require(s.genCol != s.src,
        s"generated column ${s.genCol} cannot derive from itself")
      require(types.contains(s.src),
        s"generated column ${s.genCol}: source '${s.src}' is not in the " +
          s"schema (${schema.fieldNames.mkString(",")})")
      require(!specs.exists(_.genCol == s.src),
        s"generated column ${s.genCol} derives from '${s.src}', which is " +
          "itself generated — chains are not admitted")
      val out = outputType(s.fn, types(s.src)).getOrElse(
        throw new IllegalArgumentException(
          s"generated column ${s.genCol}: ${s.fn}(${types(s.src).simpleString}) " +
            "is not an admitted transform"))
      types.get(s.genCol).foreach(g =>
        require(DataType.equalsStructurally(g, out, ignoreNullability = true),
          s"generated column ${s.genCol} is ${g.simpleString} but " +
            s"${s.fn}(${s.src}) produces ${out.simpleString}"))
    }
  }

  /** The transform as a Column over the source column — what the write
    * path derives/verifies with, over the source column or over `c`,
    * the source expression of type `srcType` (the write paths pass it
    * conformed to the recorded type). Temporal functions evaluate
    * under the session timezone; the write paths gate instant-typed
    * sources on a UTC session first so the stored values always match
    * the UTC-fixed definition.
    */
  def mkColumn(s: GenSpec, srcType: DataType): Column =
    mkColumn(s, srcType, col(s.src))

  def mkColumn(s: GenSpec, srcType: DataType, c: Column): Column =
    s.fn match {
      case "days" => to_date(c)
      case "months" => (year(c) * 12 + month(c) - 1).cast(IntegerType)
      case "years" => year(c)
      case "hours" =>
        // epoch hour, FLOOR division (negative epochs round down, so
        // the transform stays monotone across 1970). All-integer:
        // `us - pmod(us,d)` is the exact floor multiple and `div`
        // (IntegralDivide) divides it exactly in long arithmetic —
        // double division would round for |epoch micros| > 2^53
        // (before ~1684 / after ~2255, e.g. 9999-12-31 sentinel
        // dates), diverging from deriveLit's Math.floorDiv and
        // corrupting stored partition values / derived pruning.
        val us = srcType match {
          case TimestampNTZType => unix_micros(c.cast(TimestampType))
          case _ => unix_micros(c)
        }
        val d = lit(3600L * 1000000L)
        call_function("div", us - pmod(us, d), d).cast(LongType)
      case "bucket" => pmod(c, lit(s.arg.get)).cast(IntegerType)
      case "trunc" =>
        // truncating division (toward zero, Spark's `div` = Java Long
        // division) — monotone for a positive divisor, and exactly
        // replayable driver-side as `x / n` (property-pinned)
        call_function("div", c, lit(s.arg.get))
      case "keybucket" =>
        val h = if (integral(srcType)) c.cast(LongType) else c
        concat(lit("k"), pmod(xxhash64(h), lit(s.arg.get)).cast("string"))
      case other => throw new IllegalArgumentException(
        s"unknown transform $other")
    }

  /** Does the transform keep every stored value when its source column
    * widens `from` → `to` in place? Value-based transforms do (every
    * admitted widening is value-exact); `keybucket` hashes the physical
    * value, which is stable only along the integral chain it hashes as
    * `long` — any other widening would move stored keys' buckets.
    */
  def hashStable(s: GenSpec, from: DataType, to: DataType): Boolean =
    s.fn != "keybucket" || (integral(from) && integral(to)) ||
      DataType.equalsStructurally(from, to, ignoreNullability = true)

  /** Is the session timezone UTC? Instant-typed temporal transforms
    * are only admitted under it (see the object doc).
    */
  def utcSession(spark: org.apache.spark.sql.SparkSession): Boolean = {
    val z = spark.sessionState.conf.sessionLocalTimeZone
    z == "UTC" || z == "Etc/UTC" || z == "Z" || z == "+00:00" || z == "GMT"
  }

  /** True when the transform's evaluation depends on the session
    * timezone — instant-typed (TIMESTAMP) sources under a calendar
    * transform. Wall-clock and integral sources are tz-free.
    */
  def tzSensitive(s: GenSpec, srcType: DataType): Boolean = srcType match {
    case TimestampType => s.fn match {
      case "days" | "months" | "years" => true
      case _ => false // hours is pure epoch arithmetic on the instant
    }
    case TimestampNTZType =>
      // the calendar transforms are pure wall-clock (tz-free); hours
      // reads the wall-clock AS UTC, which goes through a session-tz
      // cast — gate it like the instant calendar transforms
      s.fn == "hours"
    case _ => false
  }

  // ── driver-side literal derivation (pruning) ──────────────────────

  private val Utc = java.time.ZoneOffset.UTC

  private def localDateOf(v: Any): Option[java.time.LocalDate] = v match {
    case d: java.sql.Date => Some(d.toLocalDate)
    case d: java.time.LocalDate => Some(d)
    case t: java.sql.Timestamp => Some(t.toInstant.atZone(Utc).toLocalDate)
    case t: java.time.Instant => Some(t.atZone(Utc).toLocalDate)
    case t: java.time.LocalDateTime => Some(t.toLocalDate)
    case _ => None
  }

  private def epochSecondOf(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(Math.floorDiv(t.getTime, 1000L))
    case t: java.time.Instant => Some(t.getEpochSecond)
    case t: java.time.LocalDateTime => Some(t.toEpochSecond(Utc))
    case _ => None
  }

  private def longOf(v: Any): Option[Long] = v match {
    case n: java.lang.Byte => Some(n.longValue)
    case n: java.lang.Short => Some(n.longValue)
    case n: java.lang.Integer => Some(n.longValue)
    case n: java.lang.Long => Some(n.longValue)
    case _ => None
  }

  /** The transform applied to a driver-side literal — the exact twin
    * of [[mkColumn]]'s row-level evaluation (property-pinned in the
    * spec suite); None = the value's family is outside the transform's
    * domain (⇒ no derivation, conservative).
    */
  def deriveLit(s: GenSpec, v: Any): Option[Any] = s.fn match {
    case "days" => localDateOf(v).map(java.sql.Date.valueOf)
    case "months" => localDateOf(v).map(d =>
      Int.box(d.getYear * 12 + d.getMonthValue - 1))
    case "years" => localDateOf(v).map(d => Int.box(d.getYear))
    case "hours" => epochSecondOf(v).map(sec =>
      Long.box(Math.floorDiv(sec, 3600L)))
    case "bucket" => longOf(v).map(x =>
      Int.box(Math.floorMod(x, s.arg.get).toInt))
    case "trunc" => longOf(v).map(x => Long.box(x / s.arg.get))
    case "keybucket" => v match {
      // Spark's xxhash64 (seed 42) over the UTF-8 bytes; string literals
      // only — [[derivedPreds]] also requires a STRING source column,
      // since a literal's own type need not be the column's
      case str: String =>
        val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(org.apache.spark.unsafe.types.UTF8String.fromString(str),
            StringType, 42L)
        Some("k" + Math.floorMod(h, s.arg.get))
      case _ => None
    }
    case _ => None
  }

  /** Monotone (nondecreasing) transforms derive RANGE bounds; the rest
    * derive equality/IN only.
    */
  def monotone(fn: String): Boolean = fn match {
    case "days" | "hours" | "months" | "years" | "trunc" => true
    case _ => false
  }

  /** The derived [[ZonePred]]s IMPLIED by `preds` through `specs` —
    * what [[ManifestVersioned]]'s pruning paths append before
    * consulting zone/file stats. `deriveTz` = false declines every
    * tz-sensitive derivation (non-UTC reader session).
    */
  def derivedPreds(specs: Seq[GenSpec], schema: Option[StructType],
      preds: Seq[ZonePred], deriveTz: Boolean): Seq[ZonePred] = {
    if (specs.isEmpty) return Nil
    val types = schema.map(_.fields.map(f => f.name -> f.dataType).toMap)
      .getOrElse(Map.empty[String, DataType])
    specs.flatMap { s =>
      val ok = types.get(s.src).forall(t => deriveTz || !tzSensitive(s, t)) &&
        (s.fn != "keybucket" || types.get(s.src).contains(StringType))
      if (!ok) Nil
      else preds.flatMap {
        case ZoneEq(c, v) if c == s.src =>
          deriveLit(s, v).map(ZoneEq(s.genCol, _)).toSeq
        case ZoneIn(c, vs) if c == s.src && vs.nonEmpty =>
          val ds = vs.map(deriveLit(s, _))
          if (ds.forall(_.isDefined))
            Seq(ZoneIn(s.genCol, ds.flatten.distinct)) else Nil
        case ZoneGe(c, v) if c == s.src && monotone(s.fn) =>
          deriveLit(s, v).map(ZoneGe(s.genCol, _)).toSeq
        case ZoneGt(c, v) if c == s.src && monotone(s.fn) =>
          // f collapses: x > v ⇒ f(x) >= f(v); strictness cannot survive
          deriveLit(s, v).map(ZoneGe(s.genCol, _)).toSeq
        case ZoneLe(c, v) if c == s.src && monotone(s.fn) =>
          deriveLit(s, v).map(ZoneLe(s.genCol, _)).toSeq
        case ZoneLt(c, v) if c == s.src && monotone(s.fn) =>
          deriveLit(s, v).map(ZoneLe(s.genCol, _)).toSeq
        case ZoneIsNull(c) if c == s.src && s.fn != "keybucket" =>
          Seq(ZoneIsNull(s.genCol)) // null-in-null-out
        case ZoneNotNull(c) if c == s.src && s.fn != "keybucket" =>
          Seq(ZoneNotNull(s.genCol))
        case _ => Nil
      }
    }
  }
}
