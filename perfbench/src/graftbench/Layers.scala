package graftbench

/** Attributes work done inside a whole `Pipeline.run` to the layer call it
  * belongs to, from a call stack: the outermost project call that
  * `Pipeline.run` (or its `incremental`/`fullLoad`) makes. Work issued by
  * `incremental`/`fullLoad` themselves is the post-load row count. A
  * warehouse `read` is resolved by a [[LayerTracker]]: the count's read once
  * the folder's load has run, the merge plan's read of the target before it.
  *
  * Layer names are the span names of the replayed nightly, so a whole night
  * and a replayed one report under the same names.
  */
object Layers {
  val Recover = "core.Pipeline.recover"
  val WatermarkLoad = "core.Watermark.load"
  val WatermarkList = "core.Watermark.list"
  val WatermarkSave = "core.Watermark.save"
  val ReadCsv = "io.Tables.read_csv"
  val Plan = "core.Merge.plan"
  val Load = "io.WarehouseAdapter.load"
  val Count = "io.WarehouseAdapter.count"
  val Read = "io.WarehouseAdapter.read"
  val All: Seq[String] =
    Seq(Recover, WatermarkLoad, WatermarkList, WatermarkSave, ReadCsv, Plan, Load, Count)

  private val PipelineClass = "graft.core.Pipeline$"

  /** The call site of a stack, innermost frame first, or None outside
    * `Pipeline.run` and in its own folder discovery. `Read` is returned
    * unresolved.
    */
  def site(frames: Seq[(String, String)]): Option[String] = {
    val outward = frames.reverse
    val start = outward.indexWhere { case (c, m) => c == PipelineClass && m == "run" }
    if (start < 0) None
    else {
      val inner = outward.drop(start + 1)
        .filter { case (c, _) => c.startsWith("graft.") && !c.contains("$$Lambda") }
      val (own, rest) = inner.span(_._1 == PipelineClass)
      rest.headOption match {
        case Some((c, m)) => Some(classify(c, m.stripSuffix("$")))
        case None if own.exists { case (_, m) =>
          m.contains("incremental") || m.contains("fullLoad") } => Some(Count)
        case None => None
      }
    }
  }

  private def classify(cls: String, method: String): String =
    if (cls.startsWith("graft.core.WatermarkStore")) {
      if (method.startsWith("load")) WatermarkLoad
      else if (method.startsWith("save")) WatermarkSave
      else WatermarkList
    } else if (cls.startsWith("graft.io.Tables")) ReadCsv
    else if (cls.startsWith("graft.io.")) method match {
      case "recoverAll" => Recover
      case "read" => Read
      case _ => Load
    } else Plan

  def frames(stack: Array[StackTraceElement]): Seq[(String, String)] =
    stack.toSeq.map(e => (e.getClassName, e.getMethodName))

  /** Frames of a Spark call site's long form ("cls.method(File.scala:1)"
    * per line, innermost first).
    */
  def frames(longForm: String): Seq[(String, String)] =
    longForm.split("\n").toSeq.map(_.trim.takeWhile(_ != '(')).filter(_.contains('.')).map { s =>
      val i = s.lastIndexOf('.')
      (s.substring(0, i), s.substring(i + 1))
    }
}

/** Resolves sites in the order the work happens on one night: a folder's
  * CSV read starts it, its load marks it loaded, and a warehouse `read`
  * after the load is the post-load count's.
  */
final class LayerTracker {
  private var loaded = false

  def layer(site: String): String = synchronized {
    site match {
      case Layers.ReadCsv | Layers.WatermarkList => loaded = false; site
      case Layers.Load => loaded = true; site
      case Layers.Read => if (loaded) Layers.Count else Layers.Plan
      case _ => site
    }
  }
}
