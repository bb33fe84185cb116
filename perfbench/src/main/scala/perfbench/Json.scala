package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Minimal JSON through the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case m: Obj => m.fields
    case s: Seq[_] => s.map(toJava).asJava
    case d: Double => java.lang.Double.valueOf(d)
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  final class Obj(val fields: java.util.LinkedHashMap[String, AnyRef]) {
    override def toString: String = mapper.writeValueAsString(fields)
    def getBytes(cs: java.nio.charset.Charset): Array[Byte] = toString.getBytes(cs)
  }

  def obj(kv: Seq[(String, Any)]): Obj = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    kv.foreach { case (k, v) => m.put(k, toJava(v)) }
    new Obj(m)
  }

  /** A flat JSON object of strings, e.g. the pinned check values. */
  def readFlat(path: String): Map[String, String] = {
    val f = new File(path)
    if (!f.exists) Map.empty
    else mapper.readTree(f).fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }
}
