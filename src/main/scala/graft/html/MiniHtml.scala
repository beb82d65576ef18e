package graft.html

import scala.collection.mutable.ArrayBuffer

/** A minimal, dependency-free HTML DOM for in-JVM extraction.
  *
  * Spark has no HTML functions and this build is zero-egress (no jsoup on
  * the classpath), so the engine carries its own small parser. It implements
  * exactly the semantics the reference's BeautifulSoup usage relies on
  * (/root/reference/spark/lib/utils.py:32-107):
  *
  *  - preorder `find` by tag + attribute equality (class matched as exact
  *    attribute string when the query contains a space, else as a token);
  *  - `text` = concatenation of descendant text nodes with an optional
  *    separator (BS4 get_text);
  *  - `string` = BS4's recursive single-child .string;
  *  - `nextSibling` over the raw child list.
  *
  * Parsing is a single forward scan, tolerant of real-world markup:
  * comments, doctypes, void elements, raw-text elements (script/style),
  * stray close tags, and HTML entities.
  */
object MiniHtml {

  sealed trait Node {
    /** get_text(separator): all descendant text in document order. */
    def text(separator: String = ""): String
  }

  final case class TextNode(value: String) extends Node {
    def text(separator: String): String = value
  }

  final class Elem(val tag: String, val attrs: Map[String, String]) extends Node {
    var parent: Elem = _
    val children: ArrayBuffer[Node] = ArrayBuffer.empty

    def attr(name: String): Option[String] = attrs.get(name)

    def text(separator: String = ""): String = {
      val sb = new StringBuilder
      var first = true
      def walk(n: Node): Unit = n match {
        case TextNode(v) =>
          if (!first && separator.nonEmpty) sb.append(separator)
          sb.append(v); first = false
        case e: Elem => e.children.foreach(walk)
      }
      children.foreach(walk)
      sb.toString
    }

    /** BS4 .string: descend while the node has exactly one child. */
    def string: Option[String] = {
      var e = this
      while (e.children.length == 1) e.children(0) match {
        case TextNode(v) => return Some(v)
        case c: Elem => e = c
      }
      None
    }

    /** Preorder depth-first over descendant elements (this excluded).
      * An explicit stack of (child list, next index) frames, so each step
      * costs O(1) whatever the depth; nested `flatMap` iterators would pass
      * every element up through one iterator per ancestor.
      */
    def descendants: Iterator[Elem] = new Iterator[Elem] {
      private val lists = ArrayBuffer[ArrayBuffer[Node]](children)
      private val nextIdx = ArrayBuffer[Int](0)
      private var pending: Elem = advance()

      private def advance(): Elem = {
        while (lists.nonEmpty) {
          val top = lists.length - 1
          val kids = lists(top)
          val i = nextIdx(top)
          if (i == kids.length) { lists.remove(top); nextIdx.remove(top) }
          else {
            nextIdx(top) = i + 1
            kids(i) match {
              case e: Elem => lists += e.children; nextIdx += 0; return e
              case _ =>
            }
          }
        }
        null
      }

      def hasNext: Boolean = pending != null
      def next(): Elem = {
        if (pending == null) throw new NoSuchElementException("descendants")
        val e = pending
        pending = advance()
        e
      }
    }

    private def attrMatches(e: Elem, name: String, value: String): Boolean =
      e.attrs.get(name) match {
        case Some(v) =>
          if (name == "class" && !value.contains(' '))
            v.split("\\s+").contains(value)
          else v == value
        case None => false
      }

    def find(tag: String, attrs: (String, String)*): Option[Elem] =
      descendants.find(e =>
        (tag.isEmpty || e.tag == tag) && attrs.forall { case (k, v) => attrMatches(e, k, v) })

    def findAll(tag: String, attrs: (String, String)*): Seq[Elem] =
      descendants.filter(e =>
        (tag.isEmpty || e.tag == tag) && attrs.forall { case (k, v) => attrMatches(e, k, v) }).toSeq

    /** First element whose recursive .string equals `s` (BS4
      * find(name, string=s)).
      */
    def findByString(tag: String, s: String): Option[Elem] =
      descendants.find(e => (tag.isEmpty || e.tag == tag) && e.string.contains(s))

    /** First descendant with the given tag (BS4's `.h1` / `.span` / `.div`). */
    def firstTag(tag: String): Option[Elem] = descendants.find(_.tag == tag)

    def nextSibling: Option[Node] = parent match {
      case null => None
      case p =>
        val i = p.children.indexWhere(_ eq this)
        if (i >= 0 && i + 1 < p.children.length) Some(p.children(i + 1)) else None
    }
  }

  private val voidElements = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr")

  private val rawTextElements = Set("script", "style", "textarea", "title")

  private val namedEntities = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "mdash" -> "—", "ndash" -> "–",
    "hellip" -> "…", "lsquo" -> "‘", "rsquo" -> "’",
    "ldquo" -> "“", "rdquo" -> "”", "bull" -> "•",
    "middot" -> "·", "copy" -> "©", "reg" -> "®",
    "trade" -> "™", "deg" -> "°", "amp;" -> "&")

  def decodeEntities(s: String): String = {
    if (!s.contains('&')) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val body = s.substring(i + 1, semi)
          if (body.startsWith("#x") || body.startsWith("#X")) {
            try { sb.appendAll(Character.toChars(Integer.parseInt(body.substring(2), 16))); i = semi + 1 }
            catch { case _: Exception => sb.append(c); i += 1 }
          } else if (body.startsWith("#")) {
            try { sb.appendAll(Character.toChars(Integer.parseInt(body.substring(1)))); i = semi + 1 }
            catch { case _: Exception => sb.append(c); i += 1 }
          } else namedEntities.get(body) match {
            case Some(rep) => sb.append(rep); i = semi + 1
            case None => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Parse a document; returns the synthetic root element. */
  def parse(html: String): Elem = {
    val root = new Elem("#root", Map.empty)
    var cur = root
    val n = html.length
    // lowercased once: raw-text close-tag scans are case-insensitive, and a
    // per-element toLowerCase would copy the whole document per <script>
    val lower = html.toLowerCase
    var i = 0

    def appendText(raw: String): Unit =
      if (raw.nonEmpty) cur.children += TextNode(decodeEntities(raw))

    def openElem(tag: String, attrs: Map[String, String], selfClose: Boolean): Unit = {
      val e = new Elem(tag, attrs)
      e.parent = cur
      cur.children += e
      if (!selfClose && !voidElements.contains(tag)) {
        if (rawTextElements.contains(tag)) {
          // raw text until the matching close tag (case-insensitive)
          val close = s"</$tag"
          val j = lower.indexOf(close, i)
          val end = if (j < 0) n else j
          if (end > i) e.children += TextNode(html.substring(i, end))
          i = if (j < 0) n else {
            val gt = html.indexOf('>', j)
            if (gt < 0) n else gt + 1
          }
        } else cur = e
      }
    }

    def closeElem(tag: String): Unit = {
      // pop to the nearest matching open ancestor; ignore stray closes
      var p = cur
      while (p != null && p.tag != tag) p = p.parent
      if (p != null && (p ne root)) cur = if (p.parent != null) p.parent else root
    }

    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0) { appendText(html.substring(i)); i = n }
      else {
        appendText(html.substring(i, lt))
        if (lt + 1 >= n) { i = n }
        else html.charAt(lt + 1) match {
          case '!' =>
            if (html.startsWith("<!--", lt)) {
              val end = html.indexOf("-->", lt + 4)
              i = if (end < 0) n else end + 3
            } else {
              val end = html.indexOf('>', lt)
              i = if (end < 0) n else end + 1
            }
          case '?' =>
            val end = html.indexOf('>', lt)
            i = if (end < 0) n else end + 1
          case '/' =>
            val end = html.indexOf('>', lt)
            if (end < 0) i = n
            else {
              closeElem(html.substring(lt + 2, end).trim.toLowerCase)
              i = end + 1
            }
          case c if c.isLetter =>
            // scan the tag, honoring quoted attribute values that may hold '>'
            var j = lt + 1
            var inQuote: Char = 0
            var done = false
            while (j < n && !done) {
              val ch = html.charAt(j)
              if (inQuote != 0) { if (ch == inQuote) inQuote = 0 }
              else if (ch == '"' || ch == '\'') inQuote = ch
              else if (ch == '>') done = true
              if (!done) j += 1
            }
            if (!done) { i = n }
            else {
              val inner = html.substring(lt + 1, j)
              val selfClose = inner.endsWith("/")
              val body = if (selfClose) inner.dropRight(1) else inner
              val (tag, attrs) = parseTag(body)
              i = j + 1
              openElem(tag, attrs, selfClose)
            }
          case _ =>
            appendText("<"); i = lt + 1
        }
      }
    }
    root
  }

  private def parseTag(body: String): (String, Map[String, String]) = {
    var i = 0
    val n = body.length
    while (i < n && !body.charAt(i).isWhitespace) i += 1
    val tag = body.substring(0, i).toLowerCase
    val attrs = Map.newBuilder[String, String]
    while (i < n) {
      while (i < n && body.charAt(i).isWhitespace) i += 1
      if (i < n) {
        val nameStart = i
        while (i < n && !body.charAt(i).isWhitespace && body.charAt(i) != '=') i += 1
        val name = body.substring(nameStart, i).toLowerCase
        while (i < n && body.charAt(i).isWhitespace) i += 1
        if (i < n && body.charAt(i) == '=') {
          i += 1
          while (i < n && body.charAt(i).isWhitespace) i += 1
          if (i < n && (body.charAt(i) == '"' || body.charAt(i) == '\'')) {
            val q = body.charAt(i)
            val valStart = i + 1
            val valEnd = body.indexOf(q, valStart)
            val v = if (valEnd < 0) body.substring(valStart) else body.substring(valStart, valEnd)
            i = if (valEnd < 0) n else valEnd + 1
            if (name.nonEmpty) attrs += name -> decodeEntities(v)
          } else {
            val valStart = i
            while (i < n && !body.charAt(i).isWhitespace) i += 1
            if (name.nonEmpty) attrs += name -> decodeEntities(body.substring(valStart, i))
          }
        } else if (name.nonEmpty) attrs += name -> ""
      }
    }
    (tag, attrs.result())
  }
}
