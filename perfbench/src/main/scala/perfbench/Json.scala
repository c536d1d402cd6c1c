package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

/** Scala maps, sequences and scalars to one line of JSON. */
object Json {
  private val mapper = new ObjectMapper()

  private def toJava(v: Any): Any = v match {
    case m: collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] =>
      val out = new java.util.ArrayList[Any]()
      s.foreach(x => out.add(toJava(x)))
      out
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))
}
