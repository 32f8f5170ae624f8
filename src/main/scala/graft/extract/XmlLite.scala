package graft.extract

import scala.collection.mutable.ArrayBuffer

/** Minimal dependency-free XHTML/XML parser + document-order navigation.
  *
  * Exists because the extraction kernel (X1/X2/X3 in SURVEY.md §2) needs
  * BeautifulSoup-equivalent navigation — `find_all(tag, string=pred)`,
  * `find_next`, `find_next_sibling`, `get_text(strip=True)` (reference:
  * ETFQuarterlyHoldingsExtractor.py:64-131) — and no HTML parser ships with
  * Spark. The node table is a flat pre-order array, so "next in document
  * order" is an index increment and navigation is allocation-free; a parsed
  * doc costs O(doc bytes), which matters when the parser runs inside a
  * `flatMap` over millions of documents per executor.
  *
  * Scope: well-formed XHTML (what SEC EDGAR serves). Tolerates comments,
  * doctype/PI, attributes, self-closing + HTML void tags, standard
  * entities, and mismatched close tags (popped leniently). Not a browser
  * parser — no implicit <td>-closes-<td> tag-soup recovery.
  */
object XmlLite {

  /** One node in pre-order. `tag == null` ⇒ text node (`text` set). */
  final class Node(
      val idx: Int,
      val tag: String,
      val text: String,
      val parent: Int,
      var firstChild: Int,
      var nextSibling: Int,
      var subtreeEnd: Int // exclusive pre-order end of this node's subtree
  ) {
    def isText: Boolean = tag == null
  }

  final class Doc(val nodes: Array[Node]) {

    /** bs4 `.string`: if the element has exactly one child, recurse while
      * that sole child is itself an element — `<td><b>Balance</b></td>`
      * .string == "Balance" — and yield the text iff the chain ends at
      * exactly one text node. `find(tag, string=pred)` matches on this, so
      * a label wrapped in inline markup (real EDGAR does this) still
      * matches, exactly as it would in the reference's bs4. Multiple
      * children at any level ⇒ None. */
    @annotation.tailrec
    def elemString(n: Node): Option[String] = {
      val c = n.firstChild
      if (c < 0) None
      else {
        val child = nodes(c)
        if (child.nextSibling >= 0) None
        else if (child.isText) Some(child.text)
        else elemString(child)
      }
    }

    /** bs4 `get_text(strip=True)`: every descendant text fragment stripped,
      * then concatenated. */
    def getTextStrip(n: Node): String = {
      val sb = new StringBuilder
      var i = n.idx
      val end = n.subtreeEnd
      while (i < end) {
        val nd = nodes(i)
        if (nd.isText) sb.append(nd.text.trim)
        i += 1
      }
      sb.toString
    }

    private def matches(n: Node, tag: String, pred: String => Boolean): Boolean =
      !n.isText && n.tag == tag &&
        (pred == null || elemString(n).exists(pred))

    /** bs4 `soup.find_all(tag, string=pred)` — whole document, pre-order. */
    def findAll(tag: String, pred: String => Boolean = null): Seq[Node] = {
      val out = ArrayBuffer.empty[Node]
      var i = 0
      while (i < nodes.length) {
        if (matches(nodes(i), tag, pred)) out += nodes(i)
        i += 1
      }
      out.toSeq
    }

    /** bs4 `node.find_next(tag, string=pred)`: first match strictly after
      * `from` in document order, at any depth, unscoped — deliberately able
      * to walk past the end of the current section (the reference relies on
      * this, ETFQuarterlyHoldingsExtractor.py:70,94,110). */
    def findNext(from: Node, tag: String, pred: String => Boolean = null): Option[Node] = {
      // bs4 find_next iterates next_elements = pre-order successors
      // INCLUDING the node's own descendants, hence idx+1 (not subtreeEnd).
      var i = from.idx + 1
      while (i < nodes.length) {
        if (matches(nodes(i), tag, pred)) return Some(nodes(i))
        i += 1
      }
      None
    }

    /** bs4 `node.find(tag, string=pred)`: first match among descendants. */
    def findDescendant(from: Node, tag: String, pred: String => Boolean = null): Option[Node] = {
      var i = from.idx + 1
      while (i < from.subtreeEnd) {
        if (matches(nodes(i), tag, pred)) return Some(nodes(i))
        i += 1
      }
      None
    }

    /** bs4 `node.find_next_sibling(tag)`: next element sibling with tag
      * (text siblings skipped). */
    def findNextSibling(from: Node, tag: String): Option[Node] = {
      var s = from.nextSibling
      while (s >= 0) {
        val n = nodes(s)
        if (!n.isText && n.tag == tag) return Some(n)
        s = n.nextSibling
      }
      None
    }
  }

  // initial open-element stack depth; deeper documents grow it
  private val InitialDepth = 32

  private def isVoid(tag: String): Boolean = tag match {
    case "br" | "hr" | "img" | "meta" | "link" | "input" | "col" | "area" | "base" |
        "embed" | "source" | "track" | "wbr" => true
    case _ => false
  }

  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val ent = s.substring(i + 1, semi)
          val rep: String = ent match {
            case "amp"  => "&"
            case "lt"   => "<"
            case "gt"   => ">"
            case "quot" => "\""
            case "apos" => "'"
            case "nbsp" => " "
            case _ if ent.startsWith("#x") || ent.startsWith("#X") =>
              try String.valueOf(Integer.parseInt(ent.substring(2), 16).toChar)
              catch { case _: Exception => null }
            case _ if ent.startsWith("#") =>
              try String.valueOf(Integer.parseInt(ent.substring(1)).toChar)
              catch { case _: Exception => null }
            case _ => null
          }
          if (rep != null) { sb.append(rep); i = semi + 1 }
          else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Parse to a pre-order node table. Lenient: unknown constructs are
    * skipped, a mismatched `</tag>` pops to the nearest open `tag` (or is
    * ignored), unclosed tags are closed at EOF. */
  def parse(input: String): Doc = new Parser(input).run()

  /** One parse: the node table plus the open-element stack, indexed by
    * depth. open(k) is the element open at depth k (open(0) = -1, the
    * virtual root) and last(k) the last child added under it so far
    * (-1 = none yet). */
  private final class Parser(input: String) {
    private val nodes = ArrayBuffer.empty[Node]
    private var open = new Array[Int](InitialDepth)
    private var last = new Array[Int](InitialDepth)
    private var depth = 0
    open(0) = -1
    last(0) = -1

    private def addNode(tag: String, text: String): Int = {
      val parent = open(depth)
      val idx = nodes.length
      nodes += new Node(idx, tag, text, parent, -1, -1, idx + 1)
      val prev = last(depth)
      if (prev >= 0) nodes(prev).nextSibling = idx
      else if (parent >= 0) nodes(parent).firstChild = idx
      last(depth) = idx
      idx
    }

    private def push(idx: Int): Unit = {
      depth += 1
      if (depth == open.length) {
        open = java.util.Arrays.copyOf(open, depth * 2)
        last = java.util.Arrays.copyOf(last, depth * 2)
      }
      open(depth) = idx
      last(depth) = -1
    }

    /** Pops down to and including depth `k`, ending each popped subtree. */
    private def popTo(k: Int): Unit = {
      val end = nodes.length
      while (depth >= k) {
        nodes(open(depth)).subtreeEnd = end
        depth -= 1
      }
    }

    /** A text node for input[from, until), unless it is all whitespace. */
    private def addText(from: Int, until: Int): Unit = {
      var k = from
      while (k < until && Character.isWhitespace(input.charAt(k))) k += 1
      if (k < until) addNode(null, decodeEntities(input.substring(from, until))): Unit
    }

    /** The tag spanning input[lt, gt] (`<` to `>`). */
    private def tag(lt: Int, gt: Int): Unit = {
      // the name runs to the first whitespace, after a leading `/`
      // (close) and before a trailing `/` (self-close)
      var from = lt + 1
      var until = gt
      val isClose = from < until && input.charAt(from) == '/'
      if (isClose) from += 1
      val selfClose = from < until && input.charAt(until - 1) == '/'
      if (selfClose) until -= 1
      var end = from
      var lower = true // ASCII without A-Z needs no toLowerCase
      while (end < until && !Character.isWhitespace(input.charAt(end))) {
        val c = input.charAt(end)
        if (c >= 0x80 || (c >= 'A' && c <= 'Z')) lower = false
        end += 1
      }
      if (end > from) {
        val raw = input.substring(from, end)
        val name = if (lower) raw else raw.toLowerCase
        if (isClose) {
          // pop to the nearest open element with this name; a stray
          // close (no such element open) is ignored
          var k = depth
          while (k > 0 && nodes(open(k)).tag != name) k -= 1
          if (k > 0) popTo(k)
        } else {
          val idx = addNode(name, null)
          if (!selfClose && !isVoid(name)) push(idx)
        }
      }
    }

    def run(): Doc = {
      var i = 0
      val len = input.length
      while (i < len) {
        val lt = input.indexOf('<', i)
        if (lt < 0) {
          addText(i, len)
          i = len
        } else {
          addText(i, lt)
          if (input.startsWith("<!--", lt)) {
            val end = input.indexOf("-->", lt + 4)
            i = if (end < 0) len else end + 3
          } else if (input.startsWith("<!", lt) || input.startsWith("<?", lt)) {
            val end = input.indexOf('>', lt)
            i = if (end < 0) len else end + 1
          } else {
            val gt = input.indexOf('>', lt)
            if (gt < 0) i = len // truncated tag: drop
            else {
              tag(lt, gt)
              i = gt + 1
            }
          }
        }
      }
      popTo(1) // close any still-open elements at EOF
      new Doc(nodes.toArray)
    }
  }
}
