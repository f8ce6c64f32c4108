package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** prometheus.yml loader against the reference's own canonical config
  * fixture (config/testdata/conf.good.yml — the file config_test.go parses
  * for its expected-struct test). */
class ConfigSpec extends AnyFunSuite {

  private val good = "/root/reference/config/testdata/conf.good.yml"

  test("conf.good.yml: globals, rule files, jobs, remotes, alertmanagers") {
    val cfg = Config.load(good)
    assert(cfg.scrapeIntervalMs == 15000L)
    assert(cfg.evaluationIntervalMs == 30000L)
    assert(cfg.externalLabels == Map("monitor" -> "codelab", "foo" -> "bar"))
    // "first.rules" exists next to the config; "my/*.rules" matches nothing
    assert(cfg.ruleFiles == Seq("/root/reference/config/testdata/first.rules"))
    assert(cfg.scrapeJobs.size == 34)

    val prom = cfg.scrapeJobs.find(_.jobName == "prometheus").get
    assert(prom.intervalMs == 15000L) // inherits the global
    assert(prom.staticTargets.map(_.instance) == Seq("localhost:9090", "localhost:9191"))
    assert(prom.staticTargets.head.url == "http://localhost:9090/metrics")
    assert(prom.staticTargets.head.extraLabels == Map("my" -> "label", "your" -> "label"))
    assert(prom.relabel.size == 6)
    val r0 = prom.relabel.head
    assert(r0.action == Relabel.Replace)
    assert(r0.sourceLabels == Seq("job", "__meta_dns_name"))
    assert(r0.regex == "(.*)some-[regex]")
    assert(r0.targetLabel == "job" && r0.replacement == "foo-${1}")
    assert(prom.relabel.map(_.action).count(_ == Relabel.KeepEqual) == 1)
    assert(prom.relabel.map(_.action).count(_ == Relabel.DropEqual) == 1)
    // an explicitly-overridden per-job interval
    assert(cfg.scrapeJobs.find(_.jobName == "service-x").get.intervalMs == 50000L)

    assert(cfg.remoteWriteUrls == Seq("http://remote1/push", "http://remote2/push"))
    assert(cfg.remoteReadUrls == Seq("http://remote1/read", "http://remote3/read"))
    assert(cfg.remoteWrites.map(e => (e.url, e.name)) ==
      Seq("http://remote1/push" -> "drop_expensive",
          "http://remote2/push" -> "rw_tls"))
    // protobuf_message io.prometheus.write.v2.Request selects PRW 2.0
    assert(cfg.remoteWrites.map(_.protoVersion) == Seq(1, 2))
    // write_relabel_configs parse into the forwarder's relabel chain
    val wrl = cfg.remoteWrites.head.writeRelabel
    assert(wrl.size == 1 && wrl.head.action == Relabel.Drop &&
      wrl.head.regex == "expensive.*" && wrl.head.sourceLabels == Seq("__name__"))
    assert(cfg.alertmanagerUrls == Seq(
      "https://1.2.3.4:9093", "https://1.2.3.5:9093", "https://1.2.3.6:9093"))
  }

  test("remote_write auth + headers parse; reserved header names fail the checker") {
    val cfg = Config.parse(
      """remote_write:
        |  - url: http://rw.example/push
        |    basic_auth:
        |      username: user
        |      password: pw
        |    headers:
        |      X-Scope-OrgID: tenant-7
        |  - url: http://rw2.example/push
        |    authorization:
        |      credentials: tok123
        |""".stripMargin, "/tmp")
    assert(cfg.remoteWrites.head.client.authHeader ==
      Some("Basic " + java.util.Base64.getEncoder.encodeToString(
        "user:pw".getBytes("UTF-8"))))
    assert(cfg.remoteWrites.head.client.headers == Map("X-Scope-OrgID" -> Seq("tenant-7")))
    assert(cfg.remoteWrites(1).client.authHeader == Some("Bearer tok123"))
    // checker: a reserved protocol header in remote_write/read is an error
    // (ref config.go reservedHeaders)
    val dir = java.nio.file.Files.createTempDirectory("rwcheck").toFile
    val bad = new java.io.File(dir, "bad.yml")
    java.nio.file.Files.writeString(bad.toPath,
      """remote_write:
        |  - url: http://rw.example/push
        |    headers:
        |      Content-Encoding: gzip
        |remote_read:
        |  - url: http://rr.example/read
        |    headers:
        |      X-Prometheus-Remote-Read-Version: "9"
        |""".stripMargin)
    val errs = ConfigCheck.checkConfig(bad.getPath).errors
    assert(errs.exists(e => e.contains("remote_write") &&
      e.contains("Content-Encoding is a reserved header")), errs)
    assert(errs.exists(e => e.contains("remote_read") &&
      e.contains("X-Prometheus-Remote-Read-Version is a reserved header")), errs)
    val ok = new java.io.File(dir, "ok.yml")
    java.nio.file.Files.writeString(ok.toPath,
      """remote_write:
        |  - url: http://rw.example/push
        |    headers:
        |      X-Scope-OrgID: tenant-7
        |""".stripMargin)
    assert(ConfigCheck.checkConfig(ok.getPath).errors.isEmpty)
  }

  test("sigv4 / oauth2 / google_iam / queue_config parse into the entries") {
    val cfg = Config.parse(
      """scrape_configs:
        |  - job_name: j
        |    oauth2:
        |      client_id: scrape-cid
        |      client_secret: ssec
        |      token_url: http://t/token
        |      scopes: [read]
        |remote_write:
        |  - url: http://amp.example/write
        |    sigv4:
        |      region: us-west-2
        |      access_key: akid
        |      secret_key: sek
        |      role_arn: arn:aws:iam::1:role/rw
        |      external_id: eid
        |      profile: prod
        |      use_fips_sts_endpoint: true
        |    queue_config:
        |      capacity: 20000
        |      max_shards: 10
        |      min_shards: 2
        |      max_samples_per_send: 500
        |      batch_send_deadline: 10s
        |      min_backoff: 100ms
        |      max_backoff: 30s
        |      retry_on_http_429: true
        |      sample_age_limit: 5m
        |  - url: http://oauth.example/write
        |    oauth2:
        |      client_id: cid
        |      client_secret: sec
        |      token_url: http://t/token
        |      grant_type: urn:ietf:params:oauth:grant-type:jwt-bearer
        |      client_certificate_key_file: key.pem
        |      signature_algorithm: RS512
        |      iss: who
        |      audience: aud
        |      claims:
        |        dept: eng
        |      endpoint_params:
        |        resource: r1
        |  - url: http://gcm.example/write
        |    google_iam:
        |      credentials_file: sa.json
        |remote_read:
        |  - url: http://rr.example/read
        |    oauth2:
        |      client_id: rcid
        |      client_secret: rs
        |      token_url: http://t/token
        |""".stripMargin, "/cfgdir")
    val s4 = cfg.remoteWrites(0).sigv4.get
    assert(s4 == Config.SigV4Cfg("us-west-2", "akid", "sek", "prod",
      "arn:aws:iam::1:role/rw", "eid", useFipsStsEndpoint = true))
    val q = cfg.remoteWrites(0).queue
    assert(q == Config.QueueCfg(20000, 10, 2, 500, 10000L, 100L, 30000L,
      retryOnHttp429 = true, sampleAgeLimitMs = 300000L))
    // defaults when the block is absent (ref DefaultQueueConfig /
    // DefaultRemoteWriteConfig / DefaultRemoteReadConfig)
    assert(cfg.remoteWrites(1).queue == Config.QueueCfg())
    assert(cfg.remoteWrites(1).remoteTimeoutMs == 30000L)
    assert(!cfg.remoteWrites(1).sendNativeHistograms) // upstream default false
    assert(cfg.remoteReads.head.remoteTimeoutMs == 60000L)
    assert(!cfg.remoteReads.head.readRecent && cfg.remoteReads.head.filterExternalLabels)
    val cfgT = Config.parse(
      """remote_write:
        |  - url: http://x/w
        |    remote_timeout: 5s
        |    send_native_histograms: true
        |remote_read:
        |  - url: http://x/r
        |    remote_timeout: 15s
        |    read_recent: true
        |    filter_external_labels: false
        |    required_matchers:
        |      cluster: prod
        |""".stripMargin, "/tmp")
    assert(cfgT.remoteWrites.head.remoteTimeoutMs == 5000L &&
      cfgT.remoteWrites.head.sendNativeHistograms)
    val rr = cfgT.remoteReads.head
    assert(rr.remoteTimeoutMs == 15000L && rr.readRecent &&
      !rr.filterExternalLabels && rr.requiredMatchers == Map("cluster" -> "prod"))
    // transport defaults differ per section (ref config.go:221 vs :265):
    // remote_write pins HTTP/1.1, remote_read keeps HTTP/2; both follow
    // redirects; tls/proxy knobs parse
    assert(!cfgT.remoteWrites.head.client.enableHttp2 &&
      cfgT.remoteWrites.head.client.followRedirects)
    assert(rr.client.enableHttp2 && rr.client.followRedirects)
    val cfgC = Config.parse(
      """remote_write:
        |  - url: https://x/w
        |    enable_http2: true
        |    follow_redirects: false
        |    proxy_url: http://p:3128
        |    no_proxy: internal
        |    tls_config:
        |      ca_file: ca.pem
        |      insecure_skip_verify: true
        |""".stripMargin, "/cfgdir")
    val cc = cfgC.remoteWrites.head.client
    assert(cc.enableHttp2 && !cc.followRedirects &&
      cc.proxyUrl == "http://p:3128" && cc.noProxy == "internal" &&
      cc.tlsCaFile == "/cfgdir/ca.pem" && cc.tlsInsecureSkipVerify)
    val oa = cfg.remoteWrites(1).client.oauth2.get
    assert(oa.clientId == "cid" && oa.grantType == graft.web.OAuth2.JwtBearerGrant)
    assert(oa.clientCertificateKeyFile == "/cfgdir/key.pem") // config-dir relative
    assert(oa.signatureAlgorithm == "RS512" && oa.iss == "who" && oa.audience == "aud")
    assert(oa.claims == Map("dept" -> "eng") && oa.endpointParams == Map("resource" -> "r1"))
    assert(cfg.remoteWrites(2).googleIam.get ==
      graft.web.GoogleIam.Config("/cfgdir/sa.json"))
    assert(cfg.remoteReads.head.client.oauth2.get.clientId == "rcid")
    val so = cfg.scrapeJobs.head.client.oauth2.get
    assert(so.clientId == "scrape-cid" && so.scopes == Seq("read") &&
      so.tokenUrl == "http://t/token")
    // `sigv4: {}` (default credential chain) parses to the all-defaults cfg
    val cfg2 = Config.parse(
      "remote_write:\n  - url: http://amp/w\n    sigv4: {}\n", "/tmp")
    assert(cfg2.remoteWrites.head.sigv4.contains(Config.SigV4Cfg()))
    // alertmanager groups: sigv4 on the group, oauth2 via the embedded
    // HTTP client config (ref config.go:1369 AlertmanagerConfig)
    val cfg3 = Config.parse(
      """alerting:
        |  alertmanagers:
        |    - static_configs:
        |        - targets: ['am:9093']
        |      sigv4:
        |        region: us-east-2
        |      oauth2:
        |        client_id: amcid
        |        client_secret: s
        |        token_url: http://t/token
        |""".stripMargin, "/tmp")
    val g = cfg3.alertmanagerGroups.head
    assert(g.sigv4.contains(Config.SigV4Cfg(region = "us-east-2")))
    assert(g.sd.client.oauth2.get.clientId == "amcid")
  }

  test("scrape_config_files: globbed includes, per-file dirs, duplicate job names") {
    val d = "/root/reference/config/testdata"
    // combined: main-file jobs + both included files' jobs
    val cfg = Config.load(s"$d/scrape_config_files_combined.good.yml")
    assert(cfg.scrapeJobs.map(_.jobName).sorted ==
      Seq("alertmanager", "node", "prometheus"), cfg.scrapeJobs.map(_.jobName))
    // glob include resolves relative to the config dir
    val cfgGlob = Config.load(s"$d/scrape_config_files_glob.good.yml")
    assert(cfgGlob.scrapeJobs.map(_.jobName).sorted == Seq("node", "prometheus"),
      cfgGlob.scrapeJobs.map(_.jobName))
    assert(ConfigCheck.checkConfig(s"$d/scrape_config_files_combined.good.yml").exitCode == 0)
    assert(ConfigCheck.checkConfig(s"$d/scrape_config_files_only.good.yml").exitCode == 0)
    assert(ConfigCheck.checkConfig(s"$d/scrape_config_files_glob.good.yml").exitCode == 0)
    // a job name colliding between the main file and an include fails
    val dup = ConfigCheck.checkConfig(s"$d/scrape_config_files_duplicate.bad.yml")
    assert(dup.exitCode == 1 && dup.errors.exists(_.contains(
      "found multiple scrape configs with job name \"prometheus\"")), dup.toString)
    // importing the same file twice collides too
    val dbl = ConfigCheck.checkConfig(s"$d/scrape_config_files_double_import.bad.yml")
    assert(dbl.exitCode == 1 && dbl.errors.exists(_.contains(
      "found multiple scrape configs")), dbl.toString)
    // an included job with scrape_timeout > scrape_interval fails with
    // the reference's message (config/testdata names this fixture after
    // the GLOBAL default interval the timeout exceeds)
    val tvi = ConfigCheck.checkConfig(s"$d/scrape_config_files_global.bad.yml")
    assert(tvi.exitCode == 1 && tvi.errors.exists(_.contains(
      "scrape timeout greater than scrape interval for scrape config " +
      "with job name \"prometheus\"")), tvi.toString)
    // …and an included file may only carry scrape_configs
    val dirX = java.nio.file.Files.createTempDirectory("scfx")
    java.nio.file.Files.write(dirX.resolve("inc.yml"),
      "global:\n  scrape_interval: 5s\nscrape_configs: []\n".getBytes("UTF-8"))
    java.nio.file.Files.write(dirX.resolve("main.yml"),
      "scrape_config_files:\n  - inc.yml\n".getBytes("UTF-8"))
    val inc = ConfigCheck.checkConfig(dirX.resolve("main.yml").toString)
    assert(inc.exitCode == 1 && inc.errors.exists(e =>
      e.contains("global") && e.contains("not found")), inc.toString)
    // a missing literal include is an error; relative paths inside an
    // include resolve against the INCLUDE's directory
    val dir = java.nio.file.Files.createTempDirectory("scf")
    val sub = java.nio.file.Files.createDirectory(dir.resolve("inc"))
    java.nio.file.Files.write(sub.resolve("jobs.yml"),
      """scrape_configs:
        |  - job_name: fromfile
        |    file_sd_configs:
        |      - files: [targets.json]
        |""".stripMargin.getBytes("UTF-8"))
    java.nio.file.Files.write(sub.resolve("targets.json"),
      """[{"targets": ["h:1"], "labels": {}}]""".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("main.yml"),
      "scrape_config_files:\n  - inc/jobs.yml\n".getBytes("UTF-8"))
    val c2 = Config.load(dir.resolve("main.yml").toString)
    assert(c2.scrapeJobs.map(_.jobName) == Seq("fromfile"))
    assert(c2.targetsOf(c2.scrapeJobs.head).map(_.instance) == Seq("h:1"),
      "file_sd path must resolve against the include's own directory")
    java.nio.file.Files.write(dir.resolve("missing.yml"),
      "scrape_config_files:\n  - nope.yml\n".getBytes("UTF-8"))
    val miss = ConfigCheck.checkConfig(dir.resolve("missing.yml").toString)
    assert(miss.exitCode == 1 && miss.errors.exists(_.contains("nope.yml")), miss.toString)
  }

  test("no_proxy matching, proxy_from_environment, enable_http2") {
    import graft.web.OutboundHttp.{noProxyMatches, proxySelectorFor}
    // domain entries match self + subdomains; leading dot = subdomains only
    assert(noProxyMatches("example.com", "example.com"))
    assert(noProxyMatches("example.com", "api.example.com"))
    assert(!noProxyMatches("example.com", "badexample.com"))
    assert(noProxyMatches(".example.com", "api.example.com"))
    assert(!noProxyMatches(".example.com", "example.com"))
    assert(noProxyMatches("*", "anything.at.all"))
    assert(noProxyMatches("10.0.0.0/8", "10.1.2.3"))
    assert(!noProxyMatches("10.0.0.0/8", "11.1.2.3"))
    assert(noProxyMatches("192.168.1.1", "192.168.1.1"))
    assert(noProxyMatches("a.com, b.com", "b.com")) // comma-separated
    // explicit proxy_url + no_proxy: excluded host goes direct
    val sel = proxySelectorFor("http://proxy:3128", "internal.local", false).get
    def first(u: String) = sel.select(java.net.URI.create(u)).get(0)
    assert(first("http://internal.local/metrics") == java.net.Proxy.NO_PROXY)
    assert(first("http://other.host/metrics").address()
      .asInstanceOf[java.net.InetSocketAddress].getPort == 3128)
    // proxy_from_environment: scheme picks the variable, NO_PROXY honored
    val env = Map("HTTP_PROXY" -> "http://hp:8080",
      "HTTPS_PROXY" -> "http://sp:8443", "NO_PROXY" -> "skip.me")
    val selEnv = proxySelectorFor("", "", true, env).get
    def firstEnv(u: String) = selEnv.select(java.net.URI.create(u)).get(0)
    assert(firstEnv("http://x/m").address()
      .asInstanceOf[java.net.InetSocketAddress].getPort == 8080)
    assert(firstEnv("https://x/m").address()
      .asInstanceOf[java.net.InetSocketAddress].getPort == 8443)
    assert(firstEnv("http://skip.me/m") == java.net.Proxy.NO_PROXY)
    // no proxy configured at all → None (the shared default client is used)
    assert(proxySelectorFor("", "", false).isEmpty)
    // enable_http2=false pins the client to HTTP/1.1
    assert(graft.web.OutboundHttp.client(Config.HttpClientCfg(enableHttp2 = false))
      .version() == java.net.http.HttpClient.Version.HTTP_1_1)
    assert(graft.web.OutboundHttp.client(Config.HttpClientCfg()).version() ==
      java.net.http.HttpClient.Version.HTTP_2)
    // config parse carries the three fields
    val cfg = Config.parse(
      """scrape_configs:
        |  - job_name: j
        |    proxy_url: http://proxy:3128
        |    no_proxy: internal.local
        |    enable_http2: false
        |  - job_name: k
        |    proxy_from_environment: true
        |""".stripMargin, "/tmp")
    val j = cfg.scrapeJobs.head.client
    assert(j.noProxy == "internal.local" && !j.enableHttp2 && !j.proxyFromEnvironment)
    assert(cfg.scrapeJobs(1).client.proxyFromEnvironment &&
      cfg.scrapeJobs(1).client.enableHttp2)
    // one parser: the same HTTP client block parses to the same
    // HttpClientCfg in every section (remote_write keeps its HTTP/1.1
    // default)
    def block(indent: String): String =
      """basic_auth:
        |  username: u
        |  password: p
        |oauth2:
        |  client_id: cid
        |  client_secret_file: secret.txt
        |  token_url: http://t/token
        |http_headers:
        |  X-Tenant:
        |    values: [a, b]
        |tls_config:
        |  ca_file: ca.pem
        |proxy_url: http://proxy:3128
        |no_proxy: internal.local
        |follow_redirects: false
        |""".stripMargin.linesIterator.map(indent + _ + "\n").mkString
    val all = Config.parse(
      "scrape_configs:\n  - job_name: s\n" + block("    ") +
      "remote_write:\n  - url: http://w\n" + block("    ") +
      "remote_read:\n  - url: http://r\n" + block("    ") +
      "alerting:\n  alertmanagers:\n    - scheme: http\n" + block("      "),
      "/cfgdir")
    val scrapeClient = all.scrapeJobs.head.client
    assert(scrapeClient == Config.HttpClientCfg(
      followRedirects = false, tlsCaFile = "/cfgdir/ca.pem",
      proxyUrl = "http://proxy:3128", noProxy = "internal.local",
      authHeader = Some("Basic " + java.util.Base64.getEncoder.encodeToString(
        "u:p".getBytes("UTF-8"))),
      oauth2 = Some(graft.web.OAuth2.Config("cid", "http://t/token",
        clientSecretFile = "/cfgdir/secret.txt")),
      headers = Map("X-Tenant" -> Seq("a", "b"))))
    assert(!all.remoteWrites.head.client.enableHttp2)
    assert(all.remoteWrites.head.client.copy(enableHttp2 = true) == scrapeClient)
    assert(all.remoteReads.head.client == scrapeClient)
    assert(all.alertmanagerGroups.head.sd.client == scrapeClient)
  }

  test("only the outbound HTTP factory builds an HttpClient in src/main") {
    val root = new java.io.File("src/main/scala")
    def sources(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.flatMap(f =>
        if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f)
        else Nil)
    val files = sources(root)
    assert(files.length > 100, s"sources not found under ${root.getAbsolutePath}")
    val builds = """HttpClient\s*\.\s*new(Builder|HttpClient)|\bnewHttpClient\b""".r
    val offenders = files.filter(_.getName != "OutboundHttp.scala").flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      builds.findFirstIn(src).map(m => s"${f.getPath}: $m")
    }
    assert(offenders.isEmpty, s"use graft.web.OutboundHttp instead: $offenders")
  }

  test("file-SD wiring: targetsOf merges static and discovered targets") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cfg")
    java.nio.file.Files.writeString(dir.resolve("sd.json"),
      """[{"labels": {"job": "node"}, "targets": ["h1:9100", "h2:9100"]}]""")
    val cfg = Config.parse(
      s"""scrape_configs:
         |  - job_name: base
         |    static_configs:
         |      - targets: ["s1:80"]
         |    file_sd_configs:
         |      - files:
         |          - sd.json
         |""".stripMargin, dir.toString)
    val job = cfg.scrapeJobs.head
    assert(job.fileSdPaths == Seq(dir.resolve("sd.json").toString))
    val targets = cfg.targetsOf(job)
    assert(targets.map(t => (t.instance, t.job)).toSet ==
      Set(("s1:80", "base"), ("h1:9100", "node"), ("h2:9100", "node")))
  }

  test("DNS SD: fake resolver through manager, relabel and meta-label strip") {
    import Discovery._
    // conf.good.yml-shaped job: dns_sd_configs parse with defaults
    val cfg = Config.parse(
      """scrape_configs:
        |  - job_name: service-y
        |    dns_sd_configs:
        |      - refresh_interval: 15s
        |        names:
        |          - first.dns.example.com
        |          - second.dns.example.com
        |      - names:
        |          - a.dns.example.com
        |        type: A
        |        port: 9100
        |    relabel_configs:
        |      - source_labels: [__meta_dns_name]
        |        regex: first\.(.*)\.example\.com
        |        target_label: shard
        |        replacement: ${1}
        |""".stripMargin, "/tmp")
    val job = cfg.scrapeJobs.head
    assert(job.dnsSd.size == 2)
    assert(job.dnsSd.head ==
      DnsSd.Config(Seq("first.dns.example.com", "second.dns.example.com"),
        "SRV", 0, 15000L))
    assert(job.dnsSd(1) == DnsSd.Config(Seq("a.dns.example.com"), "A", 9100, 30000L))

    // fake resolver: SRV for the first two names, A for the third;
    // second.dns fails on the SECOND refresh (previous targets must survive)
    var pass = 0
    val resolver = new DnsSd.Resolver {
      override def lookup(name: String, rt: String): Seq[DnsSd.Rec] = (name, rt) match {
        case ("first.dns.example.com", "SRV") =>
          Seq(DnsSd.SRV("web-1.example.com.", 8080), DnsSd.SRV("web-2.example.com.", 8081))
        case ("second.dns.example.com", "SRV") =>
          if (pass > 0) throw new RuntimeException("SERVFAIL")
          else Seq(DnsSd.SRV("db-1.example.com.", 5432))
        case ("a.dns.example.com", "A") => Seq(DnsSd.A("10.0.0.7"))
        case other => fail(s"unexpected lookup $other")
      }
    }
    var now = 0L
    val mgr = new Manager(() => now)
    job.dnsSd.zipWithIndex.foreach { case (dc, i) =>
      mgr.register(job.jobName, new DnsProvider(s"dns/$i", dc, resolver)) }
    mgr.poll()
    pass = 1

    def scraped() = mgr
      .targetsFor(job.jobName, job.jobName, job.scheme, job.metricsPath)
      .flatMap(t => ScrapeManager.relabelTarget(t, job.relabel))
    val t1 = scraped()
    assert(t1.map(_.instance).toSet ==
      Set("web-1.example.com:8080", "web-2.example.com:8081",
        "db-1.example.com:5432", "10.0.0.7:9100"))
    assert(t1.forall(_.job == "service-y"))
    assert(t1.forall(_.url.endsWith("/metrics")))
    // relabel consumed __meta_dns_name; every __meta_* label is stripped
    // post-relabel (ref: scrape/target.go PopulateLabels)
    val w1 = t1.find(_.instance == "web-1.example.com:8080").get
    assert(w1.extraLabels == Map("shard" -> "dns"))
    assert(t1.find(_.instance == "10.0.0.7:9100").get.extraLabels.isEmpty)

    // refresh before the 15s cadence: nothing re-resolved, same targets
    now = 10000L; mgr.poll()
    assert(scraped().map(_.instance).toSet == t1.map(_.instance).toSet)
    // past the cadence: first.dns re-resolves, second.dns FAILS — its
    // previous targets are kept (ref: dns.go refreshOne error path)
    now = 16000L; mgr.poll()
    assert(scraped().map(_.instance).toSet == t1.map(_.instance).toSet)
  }

  test("HTTP SD through the manager: a shrinking response retires stale groups") {
    import Discovery._
    @volatile var body = """[{"targets":["h1:9100"]},{"targets":["h2:9100"]}]"""
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    server.createContext("/sd", (ex: com.sun.net.httpserver.HttpExchange) => {
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b); ex.close()
    })
    server.start()
    try {
      var now = 0L
      val mgr = new Manager(() => now)
      mgr.register("job", new HttpSdProvider("http/0",
        s"http://127.0.0.1:${server.getAddress.getPort}/sd", refreshMs = 60000L))
      mgr.poll()
      assert(mgr.targetsFor("job", "job").map(_.instance).toSet ==
        Set("h1:9100", "h2:9100"))
      // response shrinks to ONE group: the dropped index must emit an empty
      // group so the manager deletes its source instead of keeping h2
      // forever (ref: discovery/http/http.go tgLastLength backfill)
      body = """[{"targets":["h3:9100"]}]"""
      now = 61000L; mgr.poll()
      assert(mgr.targetsFor("job", "job").map(_.instance).toSet == Set("h3:9100"))
    } finally server.stop(0)
  }

  test("CheckSd: Go model.Duration rendering") {
    assert(CheckSd.goDuration(0L) == "0s")
    assert(CheckSd.goDuration(60000L) == "1m")
    assert(CheckSd.goDuration(90000L) == "1m30s")
    assert(CheckSd.goDuration(915000L) == "15m15s")
    assert(CheckSd.goDuration(1000L * 60 * 60 * 24 * 8) == "1w1d")
    assert(CheckSd.goDuration(1500L) == "1s500ms")
  }

  test("CheckSd: discovered vs final labels, drops, unknown job") {
    import Discovery._
    val dir = java.nio.file.Files.createTempDirectory("sdcheck")
    val cfgPath = dir.resolve("prometheus.yml")
    java.nio.file.Files.writeString(cfgPath,
      """global:
        |  scrape_interval: 15s
        |scrape_configs:
        |  - job_name: svc
        |    static_configs:
        |      - targets: ['localhost:8080']
        |        labels:
        |          foo: bar
        |    dns_sd_configs:
        |      - names: [pool.example.com]
        |        type: SRV
        |    relabel_configs:
        |      - source_labels: [foo]
        |        target_label: newfoo
        |      - source_labels: [__meta_dns_srv_record_target]
        |        regex: drop-me.*
        |        action: drop
        |""".stripMargin)
    val resolver = new DnsSd.Resolver {
      override def lookup(name: String, rt: String): Seq[DnsSd.Rec] =
        Seq(DnsSd.SRV("keep-me.example.com.", 9000),
          DnsSd.SRV("drop-me.example.com.", 9001))
    }

    // unknown job lists the available ones (ref: sd.go jobMatched=false path)
    val miss = CheckSd.check(cfgPath.toString, "nope", resolver)
    assert(miss.isLeft && miss.swap.exists(_.contains("\tsvc")))

    val res = CheckSd.check(cfgPath.toString, "svc", resolver).toOption.get
    assert(res.size == 3)
    val static = res.find(_.discoveredLabels("__address__") == "localhost:8080").get
    // discovered: decoration + SD labels, pre-relabel (ref:
    // PopulateDiscoveredLabels); interval renders Go-style
    assert(static.discoveredLabels("__scheme__") == "http")
    assert(static.discoveredLabels("__metrics_path__") == "/metrics")
    assert(static.discoveredLabels("__scrape_interval__") == "15s")
    assert(static.discoveredLabels("foo") == "bar")
    // final: relabel output, __-prefixed stripped
    assert(static.labels == Map("job" -> "svc",
      "instance" -> "localhost:8080", "foo" -> "bar", "newfoo" -> "bar"))

    val kept = res.find(
      _.discoveredLabels("__address__") == "keep-me.example.com:9000").get
    assert(kept.discoveredLabels.contains("__meta_dns_name"))
    assert(kept.labels("instance") == "keep-me.example.com:9000")
    assert(!kept.labels.keys.exists(_.startsWith("__")))

    // relabel-dropped target: present with empty final labels (ref:
    // PopulateLabels returns EmptyLabels, nil error on drop)
    val dropped = res.find(
      _.discoveredLabels("__address__") == "drop-me.example.com:9001").get
    assert(dropped.labels.isEmpty && dropped.error.isEmpty)

    // JSON shape: indent-2 array, name-sorted label objects
    val js = CheckSd.json(res)
    assert(js.startsWith("[\n  {\n    \"discoveredLabels\": {"))
    assert(js.contains("\"labels\": {}"))
  }
}
