package graft.web

/** `promtool debug metrics|all` + `promtool tsdb list` analogs (ref:
  * cmd/promtool/debug.go debugWrite, tsdb.go printBlocks).
  *
  * `debug` collects diagnostic endpoints from a live server into a tar.gz
  * (ustar entries, JDK GZIP) — the JVM stand-in for the Go pprof group is a
  * full thread dump via ThreadMXBean, written as threads.txt. `tsdb list`
  * renders the server's block inventory in printBlocks' tab layout.
  */
object DebugTool {

  // ---- minimal ustar tar.gz writer -----------------------------------

  /** write entries as a POSIX ustar tar.gz (regular files, mode 0644) */
  def tarGz(entries: Seq[(String, Array[Byte])],
      out: java.io.OutputStream): Unit = {
    val gz = new java.util.zip.GZIPOutputStream(out)
    def octal(v: Long, len: Int): Array[Byte] = {
      val s = java.lang.Long.toOctalString(v)
      (("0" * (len - 1 - s.length)) + s + "\u0000").getBytes("US-ASCII")
    }
    entries.foreach { case (name, data) =>
      val h = new Array[Byte](512)
      val nb = name.getBytes("UTF-8").take(100)
      System.arraycopy(nb, 0, h, 0, nb.length)
      System.arraycopy(octal(420, 8), 0, h, 100, 8)          // mode 0644
      System.arraycopy(octal(0, 8), 0, h, 108, 8)            // uid
      System.arraycopy(octal(0, 8), 0, h, 116, 8)            // gid
      System.arraycopy(octal(data.length.toLong, 12), 0, h, 124, 12)
      System.arraycopy(octal(0, 12), 0, h, 136, 12)          // mtime
      h(156) = '0'                                           // typeflag
      System.arraycopy("ustar\u000000".getBytes("US-ASCII"), 0, h, 257, 8)
      // checksum: header with the checksum field as spaces
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)
      var sum = 0L
      h.foreach(b => sum += (b & 0xff))
      System.arraycopy(octal(sum, 7), 0, h, 148, 7)
      h(155) = ' '
      gz.write(h)
      gz.write(data)
      val pad = (512 - data.length % 512) % 512
      if (pad > 0) gz.write(new Array[Byte](pad))
    }
    gz.write(new Array[Byte](1024)) // two zero blocks = end of archive
    gz.finish()
  }

  /** read back (name, bytes) entries of a tar.gz (tests + tooling) */
  def unTarGz(in: java.io.InputStream): Seq[(String, Array[Byte])] = {
    val gz = new java.util.zip.GZIPInputStream(in)
    val out = scala.collection.mutable.ArrayBuffer[(String, Array[Byte])]()
    val h = new Array[Byte](512)
    def readFully(buf: Array[Byte], n: Int): Boolean = {
      var off = 0
      while (off < n) {
        val r = gz.read(buf, off, n - off)
        if (r < 0) return false
        off += r
      }
      true
    }
    var done = false
    while (!done) {
      if (!readFully(h, 512) || h.forall(_ == 0)) done = true
      else {
        val name = new String(h.takeWhile(_ != 0), "UTF-8").take(100)
          .takeWhile(_ != '\u0000')
        val size = java.lang.Long.parseLong(
          new String(h, 124, 12, "US-ASCII").trim.stripSuffix("\u0000").trim, 8)
        val data = new Array[Byte](size.toInt)
        if (!readFully(data, size.toInt))
          throw new java.io.IOException(
            s"truncated tar entry $name (expected $size bytes)")
        val pad = ((512 - size % 512) % 512).toInt
        if (pad > 0) readFully(new Array[Byte](pad), pad)
        out += ((name, data))
      }
    }
    out.toSeq
  }

  // ---- debug collection ------------------------------------------------

  private def client = OutboundHttp.default

  private def fetch(url: String): Array[Byte] =
    client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofByteArray()).body()

  /** the metrics endpoint group (ref: main.go metricsEndpoints) */
  val metricsEndpoints: Seq[(String, String)] =
    Seq("/metrics" -> "metrics.txt")

  /** status endpoints standing in for the Go pprof group — plus a JVM
    * thread dump, the profiling artifact this runtime CAN produce */
  val statusEndpoints: Seq[(String, String)] = Seq(
    "/api/v1/status/config" -> "status/config.json",
    "/api/v1/status/flags" -> "status/flags.json",
    "/api/v1/status/buildinfo" -> "status/buildinfo.json",
    "/api/v1/status/runtimeinfo" -> "status/runtimeinfo.json",
    "/api/v1/status/tsdb" -> "status/tsdb.json",
    "/api/v1/status/tsdb/blocks" -> "status/tsdb_blocks.json",
    "/api/v1/targets" -> "targets.json",
    "/api/v1/rules" -> "rules.json",
    "/api/v1/alertmanagers" -> "alertmanagers.json")

  /** JVM thread dump (the pprof-goroutine analog) */
  def threadDump(): String = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    mx.dumpAllThreads(true, true).map(_.toString).mkString("\n")
  }

  /** collect a group into entry tuples; `what` = metrics|all */
  def collect(server: String, what: String): Seq[(String, Array[Byte])] = {
    val eps = what match {
      case "metrics" => metricsEndpoints
      case "all" => metricsEndpoints ++ statusEndpoints
      case other => throw new IllegalArgumentException(
        s"unknown debug group $other (want metrics|all)")
    }
    eps.map { case (path, fname) => fname -> fetch(s"$server$path") } :+
      ("threads.txt" -> threadDump().getBytes("UTF-8"))
  }

  /** write the archive; returns entry names (ref: debugWrite) */
  def debugWrite(server: String, what: String, tarball: String): Seq[String] = {
    val entries = collect(server, what)
    val fos = new java.io.FileOutputStream(tarball)
    try tarGz(entries, fos) finally fos.close()
    entries.map(_._1)
  }

  // ---- tsdb list -------------------------------------------------------

  /** render the block inventory like printBlocks (ref: tsdb.go:348) */
  def tsdbList(server: String): String = {
    val body = new String(fetch(s"$server/api/v1/status/tsdb/blocks"), "UTF-8")
    val parsed = JsonLite.parse(body) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty[String, Any]
    }
    val blocks = parsed.get("data") match {
      case Some(d: Map[_, _]) =>
        d.asInstanceOf[Map[String, Any]].get("blocks") match {
          case Some(l: List[_]) => l.map(_.asInstanceOf[Map[String, Any]])
          case _ => Nil
        }
      case _ => Nil
    }
    val sb = new StringBuilder
    sb.append("BLOCK ULID  MIN TIME  MAX TIME  DURATION  NUM SAMPLES  NUM SERIES\n")
    blocks.foreach { b =>
      val stats = b.getOrElse("stats", Map.empty)
        .asInstanceOf[Map[String, Any]]
      def s(m: Map[String, Any], k: String): String =
        String.valueOf(m.getOrElse(k, ""))
      val minT = s(b, "minTime").toDouble.toLong
      val maxT = s(b, "maxTime").toDouble.toLong
      sb.append(s"${s(b, "ulid")}  $minT  $maxT  " +
        s"${CheckSdDuration.render(maxT - minT)}  " +
        s"${s(stats, "numSamples").toDouble.toLong}  " +
        s"${s(stats, "numSeries").toDouble.toLong}\n")
    }
    sb.toString
  }

  /** `promtool check healthy|ready` (ref: main.go CheckServerHealth /
    * CheckServerReadiness via /-/healthy, /-/ready): true on HTTP 200 */
  def checkEndpoint(server: String, path: String): Boolean =
    try client.send(
      java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"$server$path")).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.discarding())
      .statusCode() == 200
    catch { case _: Exception => false }

  /** CLI: `runMain graft.web.DebugTool debug all|metrics <server> [out.tar.gz]`,
    * `list <server>`, `check-healthy <server>`, or `check-ready <server>` */
  def main(args: Array[String]): Unit = args.toList match {
    case "debug" :: what :: server :: rest =>
      val tarball = rest.headOption.getOrElse("debug.tar.gz")
      val names = debugWrite(server, what, tarball)
      names.foreach(n => println(s"collecting: $n"))
      println(s"""Compiling debug information complete, all files written in "$tarball".""")
    case "list" :: server :: Nil =>
      print(tsdbList(server))
    case cmd :: server :: Nil if cmd == "check-healthy" || cmd == "check-ready" =>
      val path = if (cmd == "check-healthy") "/-/healthy" else "/-/ready"
      if (checkEndpoint(server, path)) {
        println(s"  SUCCESS: The server is ${cmd.stripPrefix("check-")}")
      } else { System.err.println(s"  FAILED: $server$path"); sys.exit(1) }
    case _ =>
      System.err.println(
        "usage: DebugTool debug all|metrics <server> [out.tar.gz] | list <server> | check-healthy <server> | check-ready <server>")
      sys.exit(2)
  }
}
