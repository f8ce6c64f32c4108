package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import com.sun.net.httpserver.HttpServer

/** Alertmanager service discovery + alert relabeling (ref:
  * config/config.go:1274 AlertingConfig, notifier/alertmanager.go:48
  * AlertmanagerFromGroup, notifier/alert.go:71 relabelAlerts): an
  * `alertmanagers:` group resolves its push endpoints through the same SD
  * manager as scrape jobs (file_sd here), target relabel_configs select /
  * rewrite AM targets, alerting-level alert_relabel_configs rewrite or drop
  * alerts before any send, and group-level alert_relabel_configs apply to
  * that group's copy of the batch. */
class AlertingSdSpec extends AnyFunSuite {

  private def fakeAm(path: String): (HttpServer, () => Seq[String]) = {
    val received = scala.collection.mutable.ArrayBuffer[String]()
    val srv = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    srv.createContext(path, ex => {
      received.synchronized {
        received += new String(ex.getRequestBody.readAllBytes(), "UTF-8") }
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    srv.start()
    (srv, () => received.synchronized(received.toSeq))
  }

  test("alertmanagers discovered via file_sd, updated live; alert relabeling before send") {
    val (am1, got1) = fakeAm("/am/api/v2/alerts")
    val (am2, got2) = fakeAm("/am/api/v2/alerts")
    val (am3, got3) = fakeAm("/am/api/v2/alerts")
    val dir = java.nio.file.Files.createTempDirectory("graft_amsd")
    val sdFile = dir.resolve("ams.json")
    def amAddr(s: HttpServer) = s"127.0.0.1:${s.getAddress.getPort}"
    try {
      java.nio.file.Files.writeString(sdFile,
        s"""[{"targets": ["${amAddr(am1)}", "${amAddr(am2)}"]},
           | {"labels": {"env": "skip"}, "targets": ["10.0.0.9:9093"]}]"""
          .stripMargin)
      val cfg = Config.parse(
        s"""alerting:
           |  alert_relabel_configs:
           |    - source_labels: [severity]
           |      regex: debug
           |      action: drop
           |    - source_labels: [dc]
           |      target_label: region
           |  alertmanagers:
           |    - path_prefix: /am
           |      timeout: 3s
           |      file_sd_configs:
           |        - files: ['$sdFile']
           |      relabel_configs:
           |        - source_labels: [env]
           |          regex: skip
           |          action: drop
           |      alert_relabel_configs:
           |        - action: labeldrop
           |          regex: dc
           |""".stripMargin, dir.toString)
      assert(cfg.alertRelabel.size == 2)
      assert(cfg.alertmanagerGroups.size == 1)
      val g = cfg.alertmanagerGroups.head
      assert(g.sd.jobName == "alertmanager/0")
      assert(g.apiVersion == "v2" && g.pathPrefix == "/am" && g.timeoutMs == 3000L)
      assert(g.alertRelabel.size == 1)

      val mgr = new Discovery.Manager()
      Discovery.registerJob(mgr, g.sd)
      mgr.poll()
      // target relabel drops the env=skip group; path = path_prefix + /api/v2/alerts
      val eps = Discovery.alertmanagerEndpoints(mgr, g)
      assert(eps.toSet == Set(
        s"http://${amAddr(am1)}/am/api/v2/alerts",
        s"http://${amAddr(am2)}/am/api/v2/alerts"))
      // the relabel-dropped AM is reported in the dropped set with its
      // pre-relabel URL (ref: AlertmanagerFromGroup droppedAlertManagers)
      assert(Discovery.alertmanagerTargets(mgr, g)._2 ==
        Seq("http://10.0.0.9:9093/am/api/v2/alerts"))

      val n = new graft.web.Notifier(Nil,
        externalLabels = Map("cluster" -> "prod"),
        alertRelabel = cfg.alertRelabel,
        sets = Seq(graft.web.Notifier.AmSet(
          () => { mgr.poll(); Discovery.alertmanagerEndpoints(mgr, g) },
          g.alertRelabel, g.timeoutMs)))
      val oks = n.send(Seq(
        n.Alert(Map("alertname" -> "Noise", "severity" -> "debug"), startsAtMs = 1000L),
        n.Alert(Map("alertname" -> "HighErr", "dc" -> "east"), startsAtMs = 2000L)))
      assert(oks == Seq(true, true)) // both discovered AMs of the group
      // both AMs got exactly the surviving alert: severity=debug dropped by
      // the alerting-level chain, dc copied to region then labeldropped by
      // the group-level chain, external label filled in
      for (got <- Seq(got1(), got2())) {
        assert(got.size == 1)
        val body = got.head
        assert(body.contains("\"alertname\":\"HighErr\""))
        assert(body.contains("\"region\":\"east\""))
        assert(body.contains("\"cluster\":\"prod\""))
        assert(!body.contains("\"dc\""))
        assert(!body.contains("Noise"))
      }
      assert(got3().isEmpty)

      // live SD update: am2 leaves, am3 joins — next send hits the new set
      java.nio.file.Files.writeString(sdFile,
        s"""[{"targets": ["${amAddr(am1)}", "${amAddr(am3)}"]}]""")
      val oks2 = n.send(Seq(
        n.Alert(Map("alertname" -> "HighErr", "dc" -> "west"), startsAtMs = 3000L)))
      assert(oks2 == Seq(true, true))
      assert(got1().size == 2)
      assert(got2().size == 1) // am2 no longer notified
      assert(got3().size == 1 && got3().head.contains("\"region\":\"west\""))
    } finally {
      am1.stop(0); am2.stop(0); am3.stop(0)
    }
  }

  test("async send loop: slow AM never blocks the caller; bounded queue drops oldest") {
    // an AM that blocks each POST until released
    val gate = new java.util.concurrent.Semaphore(0)
    val arrived = new java.util.concurrent.Semaphore(0)
    val bodies = scala.collection.mutable.ArrayBuffer[String]()
    val am = HttpServer.create(new java.net.InetSocketAddress(0), 0)
    am.createContext("/api/v2/alerts", ex => {
      arrived.release()
      gate.acquire()
      bodies.synchronized {
        bodies += new String(ex.getRequestBody.readAllBytes(), "UTF-8") }
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    am.start()
    val url = s"http://127.0.0.1:${am.getAddress.getPort}/api/v2/alerts"
    try {
      val n = new graft.web.Notifier(Nil, async = true, queueCapacity = 3,
        sets = Seq(graft.web.Notifier.AmSet(() => Seq(url))))
      def alert(i: Int) = n.Alert(Map("alertname" -> s"a$i"), startsAtMs = i * 1000L)
      // first send: the worker picks it up and blocks inside the POST
      val t0 = System.nanoTime()
      assert(n.send(Seq(alert(0))) == Seq(true))
      assert(arrived.tryAcquire(10, java.util.concurrent.TimeUnit.SECONDS))
      // with a0 in flight and the AM wedged, five more alerts arrive;
      // capacity 3 → the two oldest queued (a1, a2) are evicted for newer
      (1 to 5).foreach(i => assert(n.send(Seq(alert(i))) == Seq(true)))
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(elapsedMs < 2000.0, s"async send blocked: $elapsedMs ms")
      gate.release(10) // unwedge the AM
      n.stop(drain = true)
      val all = bodies.synchronized(bodies.mkString)
      assert(all.contains("\"a0\"")) // the in-flight batch
      Seq(3, 4, 5).foreach(i => assert(all.contains(s""""a$i""""), all))
      Seq(1, 2).foreach(i => assert(!all.contains(s""""a$i""""), all))
      // the surviving alerts were delivered in ONE batch (maxBatchSize 256)
      assert(bodies.synchronized(bodies.size) == 2, bodies.mkString("|"))
    } finally am.stop(0)
  }

  test("relabel can rewrite __alerts_path__ / __scheme__ / __address__ per target") {
    val (am, got) = fakeAm("/custom/alerts")
    try {
      val cfg = Config.parse(
        s"""alerting:
           |  alertmanagers:
           |    - static_configs:
           |        - targets: ['placeholder:1']
           |      relabel_configs:
           |        - target_label: __address__
           |          replacement: 127.0.0.1:${am.getAddress.getPort}
           |        - target_label: __alerts_path__
           |          replacement: /custom/alerts
           |""".stripMargin)
      val g = cfg.alertmanagerGroups.head
      val mgr = new Discovery.Manager()
      Discovery.registerJob(mgr, g.sd)
      mgr.poll()
      val eps = Discovery.alertmanagerEndpoints(mgr, g)
      assert(eps == Seq(s"http://127.0.0.1:${am.getAddress.getPort}/custom/alerts"))
      val n = new graft.web.Notifier(Nil,
        sets = Seq(graft.web.Notifier.AmSet(() => eps)))
      assert(n.send(Seq(n.Alert(Map("alertname" -> "X"), startsAtMs = 1L)))
        == Seq(true))
      assert(got().size == 1)
    } finally am.stop(0)
  }

  test("an alertmanagers group posts through its own client config: tls_config and http_headers") {
    // self-signed HTTPS alertmanager (SAN=IP:127.0.0.1); its certificate
    // is the group's tls_config.ca_file
    val dir = java.nio.file.Files.createTempDirectory("graft_amtls")
    val ksPath = dir.resolve("ks.p12").toString
    val keytool = System.getProperty("java.home") + "/bin/keytool"
    def run(args: String*): Unit = {
      val p = new ProcessBuilder((keytool +: args): _*)
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor() == 0, out)
    }
    run("-genkeypair", "-alias", "t", "-keyalg", "RSA", "-keysize", "2048",
      "-storetype", "PKCS12", "-keystore", ksPath, "-storepass", "changeit",
      "-dname", "CN=127.0.0.1", "-ext", "SAN=IP:127.0.0.1", "-validity", "2")
    run("-exportcert", "-rfc", "-alias", "t", "-keystore", ksPath,
      "-storepass", "changeit", "-file", dir.resolve("ca.pem").toString)
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val in = new java.io.FileInputStream(ksPath)
    try ks.load(in, "changeit".toCharArray) finally in.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, "changeit".toCharArray)
    val sctx = javax.net.ssl.SSLContext.getInstance("TLS")
    sctx.init(kmf.getKeyManagers, null, null)
    val am = com.sun.net.httpserver.HttpsServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    am.setHttpsConfigurator(new com.sun.net.httpserver.HttpsConfigurator(sctx))
    val tenants = new java.util.concurrent.CopyOnWriteArrayList[String]()
    am.createContext("/api/v2/alerts", ex => {
      ex.getRequestBody.readAllBytes()
      tenants.add(String.valueOf(ex.getRequestHeaders.getFirst("X-Tenant")))
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    am.start()
    try {
      val cfg = Config.parse(
        s"""alerting:
           |  alertmanagers:
           |    - scheme: https
           |      tls_config:
           |        ca_file: ca.pem
           |      http_headers:
           |        X-Tenant:
           |          values: [t-1]
           |      static_configs:
           |        - targets: ['127.0.0.1:${am.getAddress.getPort}']
           |""".stripMargin, dir.toString)
      val g = cfg.alertmanagerGroups.head
      val mgr = new Discovery.Manager()
      Discovery.registerJob(mgr, g.sd)
      // the set the server builds for this group
      val n = new graft.web.Notifier(Nil, sets = Seq(PromServer.amSetOf(g, mgr)))
      assert(n.send(Seq(n.Alert(Map("alertname" -> "Tls"), startsAtMs = 1L)))
        == Seq(true))
      assert(tenants.size == 1 && tenants.get(0) == "t-1", tenants.toString)
    } finally am.stop(0)
  }
}
