package graft.streaming

/** The response accessors of the service-discovery providers: JSON over
  * the `Map`/`List`/`String`/`Double`/`Boolean`/null trees of
  * [[graft.web.JsonLite]], XML over a DOM, and the `host:port` rendering of
  * a target address. A missing or mistyped JSON value reads as empty, the
  * way Go's zero values do in the reference's decoded structs. */
object SdJson {
  type J = Map[String, Any]

  def map(v: Any): J = v match { case m: Map[_, _] => m.asInstanceOf[J]; case _ => Map.empty }
  /** the objects of a JSON array */
  def list(v: Any): List[J] = v match { case l: List[_] => l.map(map); case _ => Nil }
  /** the elements of a JSON array, each rendered by [[str]] */
  def strs(v: Any): List[String] = v match { case l: List[_] => l.map(str); case _ => Nil }

  /** a scalar as the reference renders it: a whole double below 1e15 as a
    * long, any other double with Go's `FormatFloat(v, 'g', -1, 64)`
    * (`RangeUdfs.goFormat`), a Boolean as true/false, null as "" */
  def str(v: Any): String = v match {
    case s: String => s
    case d: java.lang.Double if d.doubleValue.isWhole && math.abs(d.doubleValue) < 1e15 =>
      d.longValue.toString
    case d: java.lang.Double => graft.promql.RangeUdfs.goFormat(d.doubleValue)
    case null => ""
    case other => String.valueOf(other)
  }

  // field forms: the same accessors applied to `o(k)`
  def map(o: J, k: String): J = map(o.getOrElse(k, null))
  def list(o: J, k: String): List[J] = list(o.getOrElse(k, null))
  def strs(o: J, k: String): List[String] = strs(o.getOrElse(k, null))
  def str(o: J, k: String): String = str(o.getOrElse(k, null))
  /** a field that is present and a string (Go's non-nil `*string`) */
  def opt(o: J, k: String): Option[String] = o.get(k).collect { case s: String => s }
  /** true only for a JSON `true` */
  def bool(o: J, k: String): Boolean = o.getOrElse(k, null) == java.lang.Boolean.TRUE
  /** a number truncated to a long; 0 when absent or not a number */
  def long(o: J, k: String): Long = o.getOrElse(k, null) match {
    case n: java.lang.Number => n.longValue
    case _ => 0L
  }

  // ------------------------------------------------------------------ XML

  /** an XML body parsed with DOCTYPEs refused and entities unexpanded */
  def parseXml(xml: String): org.w3c.dom.Document = {
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    f.setExpandEntityReferences(false)
    f.newDocumentBuilder().parse(
      new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
  }

  /** the element children of `n` */
  def elements(n: org.w3c.dom.Node): Seq[org.w3c.dom.Element] = {
    val kids = n.getChildNodes
    (0 until kids.getLength).map(kids.item).collect { case e: org.w3c.dom.Element => e }
  }

  def children(n: org.w3c.dom.Node, name: String): Seq[org.w3c.dom.Element] =
    elements(n).filter(_.getTagName == name)

  /** the trimmed text of the first child `name`; "" when there is none */
  def text(n: org.w3c.dom.Node, name: String): String =
    children(n, name).headOption.map(_.getTextContent.trim).getOrElse("")

  // -------------------------------------------------------------- address

  /** host:port with IPv6 bracketing (the reference's net.JoinHostPort) */
  def hostPort(host: String, port: String): String =
    if (host.contains(":") && !host.startsWith("[")) s"[$host]:$port"
    else s"$host:$port"

  def hostPort(host: String, port: Int): String = hostPort(host, port.toString)
}
