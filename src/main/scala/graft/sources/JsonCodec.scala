package graft.sources

import java.io.StringWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonGenerator, StreamReadConstraints}
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper

/** The one JSON codec behind the manifest and every table sidecar
  * (statistics, column summary, file index, digest, histograms, blooms,
  * equality deletes, the catalog declaration, transaction decisions).
  *
  * Output is compact — no spaces — with fields in the order the caller
  * lists them, so a record renders byte-for-byte as the older hand-built
  * formats did wherever those were valid JSON. The reader accepts those
  * older files too: raw control characters inside strings (the old
  * escaper wrote tabs verbatim) and strings of any length.
  */
object JsonCodec {

  private val mapper: JsonMapper = JsonMapper.builder(
    new JsonFactoryBuilder()
      .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
      .streamReadConstraints(StreamReadConstraints.builder()
        .maxStringLength(Int.MaxValue).maxNameLength(Int.MaxValue).build())
      .build()).build()

  /** One compact record, fields in the given order. Values are strings,
    * integral numbers, string sequences (arrays) and string maps
    * (objects, keys sorted). `None` leaves the field out, `Some(v)`
    * renders `v`, and `null` renders JSON null.
    */
  def render(fields: (String, Any)*): String = {
    val w = new StringWriter
    val g = mapper.getFactory.createGenerator(w)
    g.writeStartObject()
    fields.foreach {
      case (_, None) =>
      case (k, v) => g.writeFieldName(k); value(g, v)
    }
    g.writeEndObject()
    g.close()
    w.toString
  }

  private def value(g: JsonGenerator, v: Any): Unit = v match {
    case null => g.writeNull()
    case Some(x) => value(g, x)
    case s: String => g.writeString(s)
    case n: Long => g.writeNumber(n)
    case n: Int => g.writeNumber(n)
    case xs: Seq[_] =>
      g.writeStartArray(); xs.foreach(value(g, _)); g.writeEndArray()
    case m: Map[_, _] =>
      g.writeStartObject()
      m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1)
        .foreach { case (k, x) => g.writeFieldName(k); value(g, x) }
      g.writeEndObject()
    case other => sys.error(s"cannot render ${other.getClass.getName} as JSON")
  }

  /** One parsed record; an absent field and a JSON null read alike. */
  final class Record private[JsonCodec] (node: JsonNode) {
    private def get(k: String): Option[JsonNode] =
      Option(node.get(k)).filterNot(_.isNull)
    private def bad(k: String, what: String) =
      sys.error(s"bad record (field $k: $what): $node")
    private def text(n: JsonNode, k: String): String =
      if (n != null && n.isTextual) n.textValue else bad(k, "not a string")

    def strOpt(k: String): Option[String] = get(k).map(text(_, k))
    def str(k: String): String = strOpt(k).getOrElse(bad(k, "missing"))
    def longOpt(k: String): Option[Long] = get(k).map(n =>
      if (n.isIntegralNumber && n.canConvertToLong) n.longValue
      else bad(k, "not an integer"))
    def long(k: String): Long = longOpt(k).getOrElse(bad(k, "missing"))
    def strs(k: String): Seq[String] = get(k).toSeq.flatMap { n =>
      if (!n.isArray) bad(k, "not an array")
      (0 until n.size).map(i => text(n.get(i), k))
    }
    /** A string-to-string object; absent reads as empty. */
    def strMap(k: String): Map[String, String] = get(k) match {
      case None => Map.empty
      case Some(n) if n.isObject =>
        val b = Map.newBuilder[String, String]
        n.properties().forEach(e => b += e.getKey -> text(e.getValue, k))
        b.result()
      case _ => bad(k, "not an object")
    }
  }

  def parse(text: String): Record = new Record(mapper.readTree(text))

  /** The records of a `.jsonl` body, one per non-blank line. */
  def parseLines(text: String): Seq[Record] =
    text.split('\n').toSeq.filter(_.trim.nonEmpty).map(parse)

  /** The records of a `.jsonl` sidecar file. */
  def readLines(p: Path): Seq[Record] =
    parseLines(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))

  /** Write `lines` (one record each) to `p` atomically: a temp file
    * beside it, then one atomic rename, so a concurrent reader sees the
    * old complete file or the new one, never a torn write.
    */
  def writeAtomically(p: Path, lines: Seq[String]): Unit = {
    val tmp = p.resolveSibling(s".${p.getFileName}.tmp")
    Files.write(tmp, lines.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}
