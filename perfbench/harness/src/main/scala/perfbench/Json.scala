package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

import scala.jdk.CollectionConverters._

/** JSON output through the Jackson copy Spark already ships. */
object Json {
  private val mapper = new ObjectMapper()

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case Some(x) => toJava(x)
    case None => null
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }

  def write(path: java.nio.file.Path, v: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(path.toFile, toJava(v))
}
