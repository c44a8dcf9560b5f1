package perfbench

import scala.jdk.CollectionConverters._

/** Reads the generators' JSON files and writes the harness's results. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def read(path: String): Any =
    toScala(mapper.readValue(new java.io.File(path), classOf[Object]))

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toVector
    case x => x
  }

  def write(v: Any): String = v match {
    case null => "null"
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${write(k.toString)}: ${write(x)}" }
        .mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ", ", "]")
    case other => write(other.toString)
  }

  // typed accessors over read()'s output
  def obj(v: Any): Map[String, Any] = v.asInstanceOf[Map[String, Any]]
  def arr(v: Any): Vector[Any] = v.asInstanceOf[Vector[Any]]
  def long(v: Any): Long = v.asInstanceOf[Number].longValue
  def double(v: Any): Double = v.asInstanceOf[Number].doubleValue
  def str(v: Any): String = v.asInstanceOf[String]
}
