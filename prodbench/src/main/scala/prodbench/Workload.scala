package prodbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One benchmark workload: set-up, per-rep staging, the timed operation,
  * output checks against the planted ground truth, and the per-layer
  * metrics of a traced rep.
  */
trait Workload {
  /** input rows and files one operation completes */
  def rows: Long
  def files: Int
  /** discarded reps before timing: fixed per workload, so that setup_s
    * measures the same work in every run */
  def warmupReps: Int
  /** one-time set-up (dims, pipeline, seed indexes); timed into setup_s */
  def setup(): Unit
  /** untimed staging before rep `rep` (fresh copies, clean outputs) */
  def prepare(rep: Int): Unit
  /** the timed operation; returns the number of unexpected outcomes
    * (files that failed but should not have, corrupt files that did not) */
  def op(rep: Int, tracer: Option[Tracer]): Int
  /** failed output checks of rep `rep` (empty when every check holds) */
  def check(rep: Int): Seq[String]
  /** per-layer metrics of one traced rep */
  def layerMetrics(t: OpTrace, tracer: Tracer): Map[String, Double]
  /** untimed clean-up after a rep was checked */
  def cleanup(rep: Int): Unit = ()
  /** extra set-up facts for the result file */
  def setupFacts: Map[String, Double] = Map.empty
}

object Json {
  def read(p: Path): JsonNode = new ObjectMapper().readTree(p.toFile)

  def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong).toSeq

  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.map(write).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}

object Files2 {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { x =>
      val t = dst.resolve(src.relativize(x).toString)
      if (Files.isDirectory(x)) Files.createDirectories(t) else Files.copy(x, t)
    } finally s.close()
  }

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}
