package graft.sink

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException, Path, StandardCopyOption}

import scala.collection.immutable.VectorMap

/** The JSON format of every metadata file the engine writes — snapshots,
  * refs, properties, manifests, the per-dir sidecars, partition specs,
  * saved views — and the one place that reads, renders and publishes it.
  *
  * Reading is a minimal recursive-descent parser, not shape regexes: a
  * regex anchored on structural characters is only correct while every
  * writer escapes those characters perfectly, while a real tokenizer is
  * correct for ALL legal JSON. Deliberately tiny (no dependency, no
  * reflection): objects, arrays, strings with full escape handling
  * (including \uXXXX), numbers kept as raw text (callers choose Long vs
  * Double — ids and timestamps must not round-trip through floating
  * point), booleans, null. Throws [[MetadataJson.ParseException]] with
  * the byte offset on malformed input — corrupted metadata must fail
  * loudly, never half-parse.
  *
  * Writing is [[render]] (compact, object fields in insertion order,
  * strings through [[quote]]) and [[write]], the temp-file +
  * ATOMIC_MOVE publish every metadata file goes through.
  */
object MetadataJson {

  sealed trait JValue {
    def asObj: Map[String, JValue] = this match {
      case JObj(m) => m
      case other => throw ParseException(s"expected object, got $other", -1)
    }
    def asArr: Seq[JValue] = this match {
      case JArr(vs) => vs
      case other => throw ParseException(s"expected array, got $other", -1)
    }
    def asStr: String = this match {
      case JStr(s) => s
      case other => throw ParseException(s"expected string, got $other", -1)
    }
    def asLong: Long = this match {
      case JNum(raw) => raw.toLong
      case other => throw ParseException(s"expected number, got $other", -1)
    }
    def asBool: Boolean = this match {
      case JBool(b) => b
      case other => throw ParseException(s"expected boolean, got $other", -1)
    }
  }
  final case class JObj(fields: Map[String, JValue]) extends JValue
  final case class JArr(values: Seq[JValue]) extends JValue
  final case class JStr(value: String) extends JValue
  final case class JNum(raw: String) extends JValue
  final case class JBool(value: Boolean) extends JValue
  case object JNull extends JValue

  final case class ParseException(msg: String, offset: Int)
    extends RuntimeException(
      if (offset >= 0) s"metadata JSON parse error at offset $offset: $msg"
      else s"metadata JSON error: $msg")

  /** An object whose fields render in the given order. */
  def obj(fields: (String, JValue)*): JObj = JObj(VectorMap.from(fields))

  /** A string-valued object with its keys sorted (properties, summaries). */
  def strObj(m: Map[String, String]): JObj =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> JStr(v) }: _*)

  def num(n: Long): JNum = JNum(n.toString)

  def strs(xs: Seq[String]): JArr = JArr(xs.map(JStr))

  /** The one JSON string escape, with the surrounding quotes. Besides
    * `"`, `\` and control characters it writes `[ ] { }` as \u escapes:
    * files written before the tokenizer carried them so, and the columns
    * sidecar's raw bytes are the scan coalescer's schema key across old
    * and new dirs, so the output must stay byte-identical.
    */
  def quote(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '\\' => b.append("\\\\")
      case '"' => b.append("\\\"")
      case c if c < ' ' || "[]{}".indexOf(c) >= 0 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** Compact JSON: no whitespace, object fields in their map's order,
    * numbers as their raw text.
    */
  def render(v: JValue): String = v match {
    case JObj(fields) =>
      fields.map { case (k, fv) => quote(k) + ":" + render(fv) }.mkString("{", ",", "}")
    case JArr(values) => values.map(render).mkString("[", ",", "]")
    case JStr(s) => quote(s)
    case JNum(raw) => raw
    case JBool(b) => b.toString
    case JNull => "null"
  }

  /** Publish `v` as the whole content of `path`. */
  def write(path: Path, v: JValue): Unit = write(path, render(v).getBytes(UTF_8))

  /** Publish `bytes` as the whole content of `path`: written to a unique
    * temp file beside it, then moved over it with ATOMIC_MOVE, so a
    * reader sees the old file or the new one, never a partial write, and
    * two writers never share a temp file. The temp name starts with `.`,
    * so a leftover from a crash never reads as data.
    */
  def write(path: Path, bytes: Array[Byte]): Unit = {
    val tmp = path.resolveSibling(s".${path.getFileName}.tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, bytes)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** Parse the file at `path`; None when it does not exist, including
    * when it is deleted between the existence check and the read.
    */
  def read(path: Path): Option[JValue] =
    try Option.when(Files.exists(path))(parse(new String(Files.readAllBytes(path), UTF_8)))
    catch { case _: NoSuchFileException => None }

  def parse(s: String): JValue = {
    val p = new Parser(s)
    val v = p.value()
    p.skipWs()
    if (!p.atEnd) throw ParseException("trailing content after JSON value", p.pos)
    v
  }

  private final class Parser(s: String) {
    var pos = 0
    def atEnd: Boolean = pos >= s.length

    def skipWs(): Unit = {
      while (pos < s.length && (s.charAt(pos) == ' ' || s.charAt(pos) == '\n' ||
        s.charAt(pos) == '\r' || s.charAt(pos) == '\t')) pos += 1
    }

    private def fail(msg: String): Nothing = throw ParseException(msg, pos)

    private def expect(c: Char): Unit = {
      if (atEnd || s.charAt(pos) != c) fail(s"expected '$c'")
      pos += 1
    }

    def value(): JValue = {
      skipWs()
      if (atEnd) fail("unexpected end of input")
      s.charAt(pos) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => JStr(str())
        case 't' => lit("true"); JBool(true)
        case 'f' => lit("false"); JBool(false)
        case 'n' => lit("null"); JNull
        case c if c == '-' || (c >= '0' && c <= '9') => num()
        case c => fail(s"unexpected character '$c'")
      }
    }

    private def lit(word: String): Unit = {
      if (!s.regionMatches(pos, word, 0, word.length)) fail(s"expected '$word'")
      pos += word.length
    }

    private def obj(): JObj = {
      expect('{'); skipWs()
      if (!atEnd && s.charAt(pos) == '}') { pos += 1; return JObj(Map.empty) }
      val b = Map.newBuilder[String, JValue]
      var done = false
      while (!done) {
        skipWs()
        val k = str()
        skipWs(); expect(':')
        b += k -> value()
        skipWs()
        if (atEnd) fail("unterminated object")
        s.charAt(pos) match {
          case ',' => pos += 1
          case '}' => pos += 1; done = true
          case c => fail(s"expected ',' or '}' in object, got '$c'")
        }
      }
      JObj(b.result())
    }

    private def arr(): JArr = {
      expect('['); skipWs()
      if (!atEnd && s.charAt(pos) == ']') { pos += 1; return JArr(Nil) }
      val b = Seq.newBuilder[JValue]
      var done = false
      while (!done) {
        b += value()
        skipWs()
        if (atEnd) fail("unterminated array")
        s.charAt(pos) match {
          case ',' => pos += 1
          case ']' => pos += 1; done = true
          case c => fail(s"expected ',' or ']' in array, got '$c'")
        }
      }
      JArr(b.result())
    }

    private def str(): String = {
      expect('"')
      val b = new StringBuilder
      while (true) {
        if (atEnd) fail("unterminated string")
        val c = s.charAt(pos)
        if (c == '"') { pos += 1; return b.toString }
        else if (c == '\\') {
          pos += 1
          if (atEnd) fail("unterminated escape")
          s.charAt(pos) match {
            case '"'  => b.append('"'); pos += 1
            case '\\' => b.append('\\'); pos += 1
            case '/'  => b.append('/'); pos += 1
            case 'b'  => b.append('\b'); pos += 1
            case 'f'  => b.append('\f'); pos += 1
            case 'n'  => b.append('\n'); pos += 1
            case 'r'  => b.append('\r'); pos += 1
            case 't'  => b.append('\t'); pos += 1
            case 'u' =>
              if (pos + 4 >= s.length) fail("truncated \\u escape")
              val hex = s.substring(pos + 1, pos + 5)
              // strictly 4 hex DIGITS: parseInt would also accept sign
              // chars ("+1aF") and throw NumberFormatException (not
              // ParseException) on junk — and callers that degrade on
              // ParseException (stats sidecars are never a correctness
              // input) must see every malformed input as a parse error
              if (!hex.forall(c => (c >= '0' && c <= '9') ||
                  (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')))
                fail(s"invalid \\u escape '\\u$hex'")
              b.append(Integer.parseInt(hex, 16).toChar)
              pos += 5
            case e => fail(s"unknown escape '\\$e'")
          }
        } else { b.append(c); pos += 1 }
      }
      throw new IllegalStateException("unreachable")
    }

    private def num(): JNum = {
      val start = pos
      if (!atEnd && s.charAt(pos) == '-') pos += 1
      while (!atEnd && {
        val c = s.charAt(pos)
        (c >= '0' && c <= '9') || c == '.' || c == 'e' || c == 'E' || c == '+' || c == '-'
      }) pos += 1
      if (pos == start) fail("expected number")
      JNum(s.substring(start, pos))
    }
  }
}
