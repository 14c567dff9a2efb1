package graft.sources.excel

import java.io.Reader

/** Minimal streaming XML pull scanner for the SpreadsheetML hot path.
  *
  * The JDK's StAX implementation costs ~2.5 µs/cell on sheet XML — the
  * dominant term of the whole Excel→Parquet pipeline (measured 4.2 s of
  * a 6 s conversion for 1.6M cells). This scanner does exactly what the
  * format needs and nothing else — elements, attributes, text, the five
  * XML entities + numeric refs, self-closing tags, comment/PI/CDATA
  * skipping — in one buffered pass with reusable buffers. It is the same
  * design decision the reference inherits from calamine's quick-xml
  * (/root/reference/Cargo.toml pulls quick-xml via calamine).
  *
  * Not a general XML parser: no DTDs, no namespace resolution (prefixes
  * are stripped), no validation — malformed input fails fast.
  */
final class FastXml(rd: Reader) {

  import FastXml._

  private val buf = new Array[Char](1 << 16)
  private var len = 0
  private var pos = 0

  // current event state (reused, no per-event allocation)
  var event: Int = EVENT_NONE
  private val nameBuf = new StringBuilder(32)
  private val textBuf = new StringBuilder(64)
  private var attrCount = 0
  // attribute names/values in REUSED builders (r18): the previous
  // per-attribute `new StringBuilder` + `.toString` pair for both name
  // and value was ~4 allocations per attribute — measured 84 B/cell of
  // garbage on the 1.6M-cell bench workbook (ThreadMXBean allocated
  // bytes over the parse loop; perfbench's excel.scan_alloc_b_per_cell).
  // Names are only ever compared (attrIs-style), so they never
  // materialize; values materialize lazily on attr() access.
  private var attrNames = Array.fill(8)(new StringBuilder(8))
  private var attrValues = Array.fill(8)(new StringBuilder(16))
  var selfClosing = false

  def name: String = nameBuf.toString
  def text: String = textBuf.toString

  /** Local name equality without building the String. */
  def nameIs(s: String): Boolean = {
    if (nameBuf.length != s.length) return false
    var i = 0
    while (i < s.length) {
      if (nameBuf.charAt(i) != s.charAt(i)) return false
      i += 1
    }
    true
  }

  private def bufIs(b: StringBuilder, s: String): Boolean = {
    if (b.length != s.length) return false
    var i = 0
    while (i < s.length) {
      if (b.charAt(i) != s.charAt(i)) return false
      i += 1
    }
    true
  }

  /** Attribute value of the CURRENT start tag, or null. LIFETIME: the
    * backing buffers are reused by the next start tag, so attr() is
    * valid only while the current event is that start tag; after any
    * other event it throws instead of returning a stale value (a
    * returned String is an immutable copy, safe to keep).
    */
  def attr(key: String): String = {
    if (event != EVENT_START)
      throw new IllegalStateException(s"attr($key) outside a start tag (event $event)")
    var i = 0
    while (i < attrCount) {
      if (bufIs(attrNames(i), key)) return attrValues(i).toString
      i += 1
    }
    null
  }

  private def readChar(): Int = {
    if (pos >= len) {
      len = rd.read(buf)
      pos = 0
      if (len <= 0) return -1
    }
    val c = buf(pos)
    pos += 1
    c
  }

  private def appendEntity(sb: StringBuilder): Unit = {
    // '&' already consumed; read to ';'
    val e = new StringBuilder(8)
    var c = readChar()
    while (c >= 0 && c != ';') { e.append(c.toChar); c = readChar() }
    val s = e.toString
    sb.append(s match {
      case "amp"  => "&"
      case "lt"   => "<"
      case "gt"   => ">"
      case "quot" => "\""
      case "apos" => "'"
      case _ if s.startsWith("#x") || s.startsWith("#X") =>
        new String(Character.toChars(Integer.parseInt(s.substring(2), 16)))
      case _ if s.startsWith("#") =>
        new String(Character.toChars(s.substring(1).toInt))
      case other => "&" + other + ";" // pass through unknown entity
    })
  }

  /** Advance to the next event. TEXT events accumulate only when
    * `collectText` is true (inside value elements); otherwise inter-tag
    * text is skipped without buffering.
    */
  def next(collectText: Boolean): Int = {
    selfClosing = false
    if (pendingTag) return parseTag() // '<' already consumed by a TEXT run
    var c = readChar()
    if (collectText) textBuf.setLength(0)
    // text run until '<'
    var sawText = false
    while (c >= 0 && c != '<') {
      if (collectText) {
        sawText = true
        if (c == '&') appendEntity(textBuf) else textBuf.append(c.toChar)
      }
      c = readChar()
    }
    if (collectText && sawText && textBuf.nonEmpty) {
      // emit the text run; the '<' is consumed, so remember to parse the
      // tag on the following call
      pendingTag = true
      event = EVENT_TEXT
      return event
    }
    if (c < 0 && !pendingTag) { event = EVENT_EOF; return event }
    parseTag()
  }

  private var pendingTag = false

  private def parseTag(): Int = {
    pendingTag = false
    var c = readChar()
    c match {
      case '/' => // end tag
        nameBuf.setLength(0)
        c = readChar()
        while (c >= 0 && c != '>') {
          if (c == ':') nameBuf.setLength(0) else nameBuf.append(c.toChar)
          c = readChar()
        }
        event = EVENT_END
      case '!' => // comment or CDATA or doctype: skip to matching '>'
        // comments end with -->, CDATA with ]]>; simple scan for '>' is
        // wrong for those, so track the closers
        val head = new StringBuilder(8)
        var done = false
        var last2 = ' '
        var last1 = ' '
        while (!done) {
          c = readChar()
          if (c < 0) done = true
          else {
            if (head.length < 7) head.append(c.toChar)
            val h = head.toString
            val isComment = h.startsWith("--")
            val isCdata = h.startsWith("[CDATA[")
            if (c == '>') {
              if (isComment) { if (last2 == '-' && last1 == '-') done = true }
              else if (isCdata) { if (last2 == ']' && last1 == ']') done = true }
              else done = true
            }
            last2 = last1
            last1 = c.toChar
          }
        }
        return next(false)
      case '?' => // processing instruction: skip to '?>'
        var prev = ' '
        var done = false
        while (!done) {
          c = readChar()
          if (c < 0) done = true
          else if (c == '>' && prev == '?') done = true
          else prev = c.toChar
        }
        return next(false)
      case _ => // start tag
        nameBuf.setLength(0)
        attrCount = 0
        while (c >= 0 && c != '>' && c != '/' && !isSpace(c)) {
          if (c == ':') nameBuf.setLength(0) else nameBuf.append(c.toChar)
          c = readChar()
        }
        // attributes
        while (c >= 0 && c != '>') {
          while (isSpace(c)) c = readChar()
          if (c == '/') { selfClosing = true; c = readChar() }
          else if (c != '>' && c >= 0) {
            if (attrCount == attrNames.length) {
              val grown = attrCount * 2
              attrNames = Array.tabulate(grown)(i =>
                if (i < attrCount) attrNames(i) else new StringBuilder(8))
              attrValues = Array.tabulate(grown)(i =>
                if (i < attrCount) attrValues(i) else new StringBuilder(16))
            }
            val an = attrNames(attrCount)
            an.setLength(0)
            while (c >= 0 && c != '=' && !isSpace(c) && c != '>' && c != '/') {
              if (c == ':') an.setLength(0) else an.append(c.toChar)
              c = readChar()
            }
            while (isSpace(c)) c = readChar()
            if (c == '=') {
              c = readChar()
              while (isSpace(c)) c = readChar()
              val quote = c
              val av = attrValues(attrCount)
              av.setLength(0)
              if (quote == '"' || quote == '\'') {
                c = readChar()
                while (c >= 0 && c != quote) {
                  if (c == '&') appendEntity(av) else av.append(c.toChar)
                  c = readChar()
                }
                c = readChar()
              }
              attrCount += 1
            }
          }
        }
        event = EVENT_START
    }
    event
  }

  private def isSpace(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r'
}

object FastXml {
  final val EVENT_NONE = 0
  final val EVENT_START = 1
  final val EVENT_END = 2
  final val EVENT_TEXT = 3
  final val EVENT_EOF = 4
}
