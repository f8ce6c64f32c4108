package graft.streaming

import graft.web.JsonLite
import SdJson._

/** ZooKeeper-backed service discovery — Twitter serversets and AirBnB Nerve
  * (ref: discovery/zookeeper/zookeeper.go; the treecache machinery in
  * util/treecache keeps a watched mirror of the subtree).
  *
  * Architecture divergence, deliberately (same trade as [[KubernetesSd]]):
  * the reference holds a persistent ZooKeeper session and reacts to watch
  * events; this engine's manager is cadence-driven, so each refresh opens a
  * short session, recursively walks the configured paths (getChildren +
  * getData), and closes. Every node whose data parses as a member JSON
  * becomes one target keyed by its full path — non-member nodes (no data /
  * unparsable) are skipped exactly like the reference's parse-failure path
  * (zookeeper.go:236-241).
  *
  * The wire client speaks the minimal ZooKeeper/jute protocol it needs:
  * 4-byte length-framed ConnectRequest, getChildren (op 8), getData (op 4),
  * close (op -11); big-endian ints/longs, length-prefixed strings/buffers. */
object ZookeeperSd {

  /** serverset_sd_configs / nerve_sd_configs entry (ref: zookeeper.go
    * ServersetSDConfig / NerveSDConfig; timeout 10s) */
  final case class Config(
      kind: String, // serverset | nerve
      servers: Seq[String],
      paths: Seq[String],
      timeoutMs: Long = 10000L,
      refreshMs: Long = 30000L)

  /** injectable tree reader: `children` of a node, `data` of a node
    * (None = node missing or data-less) */
  trait ZkClient {
    def children(path: String): Seq[String]
    def data(path: String): Option[Array[Byte]]
    def close(): Unit = ()
  }

  // ------------------------------------------------- minimal wire client

  /** one short ZooKeeper session against the first reachable server */
  final class WireZkClient(servers: Seq[String], timeoutMs: Long) extends ZkClient {
    private val socket: java.net.Socket = {
      var sock: java.net.Socket = null
      var err: Throwable = new IllegalStateException("no zookeeper servers")
      servers.iterator.takeWhile(_ => sock == null).foreach { srv =>
        try {
          val (host, port) = srv.lastIndexOf(':') match {
            case -1 => (srv, 2181)
            case i => (srv.take(i), srv.drop(i + 1).toInt)
          }
          val s = new java.net.Socket()
          s.connect(new java.net.InetSocketAddress(host, port), timeoutMs.toInt)
          s.setSoTimeout(timeoutMs.toInt)
          sock = s
        } catch { case e: Throwable => err = e }
      }
      if (sock == null) throw new IllegalStateException(s"zookeeper sd: $err")
      sock
    }
    private val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(socket.getOutputStream))
    private val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(socket.getInputStream))
    private var xid = 0

    // ---- jute primitives
    private def frame(body: Array[Byte]): Unit = {
      out.writeInt(body.length); out.write(body); out.flush()
    }
    private def readFrame(): java.io.DataInputStream = {
      val len = in.readInt()
      val buf = new Array[Byte](len)
      in.readFully(buf)
      new java.io.DataInputStream(new java.io.ByteArrayInputStream(buf))
    }
    private def bytes(f: java.io.DataOutputStream => Unit): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val d = new java.io.DataOutputStream(bo)
      f(d); d.flush(); bo.toByteArray
    }
    private def writeStr(d: java.io.DataOutputStream, s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      d.writeInt(b.length); d.write(b)
    }
    private def readBuf(d: java.io.DataInputStream): Array[Byte] = {
      val n = d.readInt()
      if (n < 0) Array.empty
      else { val b = new Array[Byte](n); d.readFully(b); b }
    }

    // ---- handshake (ConnectRequest: pver, lastZxid, timeOut, sessionId, passwd)
    frame(bytes { d =>
      d.writeInt(0); d.writeLong(0L); d.writeInt(timeoutMs.toInt)
      d.writeLong(0L); d.writeInt(16); d.write(new Array[Byte](16))
    })
    readFrame() // ConnectResponse: pver, timeOut, sessionId, passwd (ignored)

    /** one request round-trip; returns the reply body positioned after the
      * reply header, or None when the node does not exist (err -101) */
    private def call(op: Int, body: java.io.DataOutputStream => Unit):
        Option[java.io.DataInputStream] = {
      xid += 1
      frame(bytes { d => d.writeInt(xid); d.writeInt(op); body(d) })
      val r = readFrame()
      r.readInt() // xid
      r.readLong() // zxid
      r.readInt() match {
        case 0 => Some(r)
        case -101 => None // KeeperException.NoNode
        case err => throw new IllegalStateException(s"zookeeper sd: error $err")
      }
    }

    override def children(path: String): Seq[String] =
      call(8, d => { writeStr(d, path); d.writeBoolean(false) }) match {
        case None => Nil
        case Some(r) =>
          val n = r.readInt()
          (0 until n).map(_ => new String(readBuf(r),
            java.nio.charset.StandardCharsets.UTF_8))
      }

    override def data(path: String): Option[Array[Byte]] =
      call(4, d => { writeStr(d, path); d.writeBoolean(false) })
        .map(r => readBuf(r)) // Stat trailer ignored

    override def close(): Unit = {
      try { xid += 1; frame(bytes { d => d.writeInt(xid); d.writeInt(-11) }) }
      catch { case _: Exception => () }
      try socket.close() catch { case _: Exception => () }
    }
  }

  // ----------------------------------------------------- member parsing

  /** ref zookeeper.go parseServersetMember */
  private[streaming] def parseServerset(data: String, path: String):
      Option[(String, Map[String, String])] = {
    val m = map(JsonLite.parse(data))
    val se = map(m, "serviceEndpoint")
    if (se.isEmpty) return None
    var l = Map(
      "__meta_serverset_path" -> path,
      "__meta_serverset_endpoint_host" -> str(se, "host"),
      "__meta_serverset_endpoint_port" -> long(se, "port").toString,
      "__meta_serverset_status" -> str(m, "status"),
      "__meta_serverset_shard" -> long(m, "shard").toString)
    map(m, "additionalEndpoints").foreach { case (name, ep) =>
      val e = map(ep)
      val cn = KubernetesSd.sanitize(name)
      l += "__meta_serverset_endpoint_host_" + cn -> str(e, "host")
      l += "__meta_serverset_endpoint_port_" + cn -> long(e, "port").toString
    }
    Some((s"${str(se, "host")}:${long(se, "port")}", l))
  }

  /** ref zookeeper.go parseNerveMember */
  private[streaming] def parseNerve(data: String, path: String):
      Option[(String, Map[String, String])] = {
    val m = map(JsonLite.parse(data))
    if (str(m, "host").isEmpty) return None
    Some((s"${str(m, "host")}:${long(m, "port")}", Map(
      "__meta_nerve_path" -> path,
      "__meta_nerve_endpoint_host" -> str(m, "host"),
      "__meta_nerve_endpoint_port" -> long(m, "port").toString,
      "__meta_nerve_endpoint_name" -> str(m, "name"))))
  }

  // ------------------------------------------------------------ provider

  final class ZookeeperProvider(override val name: String, cfg: Config,
      mkClient: () => ZkClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) =
      this(name, cfg, () => new WireZkClient(cfg.servers, cfg.timeoutMs))
    override def refreshMs: Long = cfg.refreshMs
    private val parse = if (cfg.kind == "nerve") parseNerve _ else parseServerset _

    override def refresh(): Seq[Discovery.TargetGroup] = {
      val client = mkClient()
      try {
        val groups = Seq.newBuilder[Discovery.TargetGroup]
        def walk(path: String): Unit = {
          client.data(path).foreach { bytes =>
            if (bytes.nonEmpty) {
              val text = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
              try parse(text, path).foreach { case (addr, labels) =>
                // one group per member node, keyed by the full path
                // (ref zookeeper.go: Source = event.Path)
                groups += Discovery.TargetGroup(path, Map.empty, Seq((addr, labels)))
              } catch { case _: Exception => () } // unparsable node skipped
            }
          }
          client.children(path).foreach(c => walk(s"${path.stripSuffix("/")}/$c"))
        }
        cfg.paths.foreach(walk)
        groups.result()
      } finally client.close()
    }
  }
}
