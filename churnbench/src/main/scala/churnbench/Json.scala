package churnbench

import scala.collection.mutable

/** Minimal JSON object writer for the result file run.py reads. */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  def num(k: String, v: Double): Json = {
    fields += s"${Json.quote(k)}:${if (v.isNaN || v.isInfinite) "null" else v.toString}"
    this
  }
  def int(k: String, v: Long): Json = { fields += s"${Json.quote(k)}:$v"; this }
  def str(k: String, v: String): Json = { fields += s"${Json.quote(k)}:${Json.quote(v)}"; this }
  def raw(k: String, v: String): Json = { fields += s"${Json.quote(k)}:$v"; this }
  def render: String = fields.mkString("{", ",", "}")
}

object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  final class Arr {
    private val items = mutable.ArrayBuffer.empty[String]
    def add(j: Json): Unit = items += j.render
    def addNum(v: Double): Unit = items += v.toString
    def render: String = items.mkString("[", ",", "]")
  }
}
