package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Writes the run record: Scala maps, sequences and options become JSON
  * objects, arrays and null (Jackson rides Spark's classpath). */
object Json {
  private def toJava(v: Any): AnyRef = v match {
    case null | None => null
    case Some(x) => toJava(x)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def write(path: String, value: Any): Unit =
    new ObjectMapper().writeValue(new java.io.File(path), toJava(value))
}
