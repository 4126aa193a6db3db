package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Best-effort deferred cleanup. Operations register what they leave
  * behind; `flush` runs after the clock stops, logs every path it could
  * not remove, and always clears the pending list. A cleanup failure is
  * never reported as a failed operation.
  */
final class Cleanup(log: String => Unit) {
  private val pending = mutable.ArrayBuffer[(String, () => Unit)]()
  var failures = 0

  def later(label: String)(action: => Unit): Unit = pending += (label -> (() => action))

  def path(p: String): Unit = later(p)(Cleanup.rmTree(Paths.get(p)))

  def flush(): Unit = {
    val work = pending.toList
    pending.clear()
    work.foreach { case (label, action) =>
      try action()
      catch {
        case NonFatal(e) =>
          failures += 1
          log(s"cleanup of $label failed: $e")
      }
    }
  }
}

object Cleanup {

  /** Deletes a tree, children first; a missing root is not an error. */
  def rmTree(root: Path): Unit =
    if (Files.exists(root)) {
      val all = Files.walk(root)
      try all.iterator().asScala.toList.reverse.foreach(p => Files.deleteIfExists(p))
      finally all.close()
    }
}

/** Minimal JSON rendering for the reports. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
