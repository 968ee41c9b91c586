package perfbench

import scala.jdk.CollectionConverters._

/** Minimal JSON for the harness's result file and the generator's
  * manifest (Jackson ships with Spark; this only maps Scala values). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def write(v: Any): String = v match {
    case null => "null"
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${write(k.toString)}:${write(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => write(other.toString)
  }

  def read(s: String): Any = toScala(mapper.readValue(s, classOf[Object]))

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toSeq
    case other => other
  }
}
