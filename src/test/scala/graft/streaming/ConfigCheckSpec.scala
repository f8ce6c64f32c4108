package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** promtool check config / check rules over the REFERENCE'S OWN corpus
  * (ref: cmd/promtool/main_test.go TestExitCodes + TestCheckRules) —
  * exit-code parity: 0 ok, 1 failure, 3 lint issue. */
class ConfigCheckSpec extends AnyFunSuite {

  private val d = "/root/reference/cmd/promtool/testdata"

  test("check config exit codes match promtool's TestExitCodes table") {
    // good: an empty config is valid
    assert(ConfigCheck.checkConfig(s"$d/prometheus-config.good.yml").exitCode == 0)
    // good: AWS SD configs with omitted region parse without network calls
    assert(ConfigCheck.checkConfig(s"$d/prometheus-aws-sd-empty-region.good.yml").exitCode == 0)
    // bad: unknown top-level field (strict unmarshal)
    val bad = ConfigCheck.checkConfig(s"$d/prometheus-config.bad.yml")
    assert(bad.exitCode == 1 && bad.errors.exists(_.contains("not-prometheus")), bad.toString)
    // nonexistent file
    assert(ConfigCheck.checkConfig(s"$d/prometheus-config.nonexistent.yml").exitCode == 1)
    // lint: the referenced rule file contains a duplicate rule -> 3
    val lint = ConfigCheck.checkConfig(s"$d/prometheus-config.lint.yml")
    assert(lint.exitCode == 3 && lint.lintIssues.exists(_.contains("duplicate rule")),
      lint.toString)
    // rule files referenced by the config must exist
    val missing = ConfigCheck.checkConfig(s"$d/config_with_rule_files.yml")
    assert(missing.exitCode == 1 &&
      missing.errors.exists(_.contains("non-existent-file.yml")), missing.toString)
  }

  test("check config: SD provider required fields and enums") {
    val dir = java.nio.file.Files.createTempDirectory("cfgsd")
    def check(body: String): ConfigCheck.Result = {
      val f = java.nio.file.Files.createTempFile(dir, "cfg", ".yml")
      java.nio.file.Files.write(f, body.getBytes("UTF-8"))
      ConfigCheck.checkConfig(f.toString)
    }
    def job(sd: String) = s"scrape_configs:\n  - job_name: j\n$sd"
    // kubernetes: role enum required
    val badRole = check(job("    kubernetes_sd_configs:\n      - role: podz\n"))
    assert(badRole.exitCode == 1 && badRole.errors.exists(_.contains("role")), badRole)
    assert(check(job("    kubernetes_sd_configs:\n      - role: pod\n")).exitCode == 0)
    // kubernetes selectors: role-allowlist + duplicates
    // (ref: kubernetes.go UnmarshalYAML allowedSelectors)
    val badSel = check(job(
      "    kubernetes_sd_configs:\n      - role: service\n" +
      "        selectors:\n          - role: pod\n            label: a=b\n"))
    assert(badSel.exitCode == 1 &&
      badSel.errors.exists(_.contains("service role supports only service selectors")), badSel)
    val dupSel = check(job(
      "    kubernetes_sd_configs:\n      - role: pod\n" +
      "        selectors:\n          - role: pod\n            label: a=b\n" +
      "          - role: pod\n            field: c=d\n"))
    assert(dupSel.exitCode == 1 &&
      dupSel.errors.exists(_.contains("duplicated selector role: pod")), dupSel)
    assert(check(job(
      "    kubernetes_sd_configs:\n      - role: pod\n" +
      "        selectors:\n          - role: pod\n            label: a=b\n" +
      "          - role: node\n            label: c=d\n")).exitCode == 0)
    // own_namespace requires the in-cluster mount: api_server conflicts
    val ownApi = check(job(
      "    kubernetes_sd_configs:\n      - role: pod\n" +
      "        api_server: https://k:6443\n" +
      "        namespaces:\n          own_namespace: true\n"))
    assert(ownApi.exitCode == 1 &&
      ownApi.errors.exists(_.contains("own_namespace")), ownApi)
    // eureka: server required and must be a URL
    val badEureka = check(job("    eureka_sd_configs:\n      - server: eureka:8080\n"))
    assert(badEureka.exitCode == 1 &&
      badEureka.errors.exists(_.contains("invalid eureka server URL")), badEureka)
    assert(check(job(
      "    eureka_sd_configs:\n      - server: http://eureka:8080/eureka\n")).exitCode == 0)
    // marathon: at least one server
    val noServers = check(job("    marathon_sd_configs:\n      - refresh_interval: 30s\n"))
    assert(noServers.exitCode == 1 &&
      noServers.errors.exists(_.contains("at least one Marathon server")), noServers)
    // puppetdb: url scheme + query required
    val badPdb = check(job(
      "    puppetdb_sd_configs:\n      - url: ftp://x\n        query: q\n"))
    assert(badPdb.exitCode == 1 &&
      badPdb.errors.exists(_.contains("URL scheme must be")), badPdb)
    val noQuery = check(job(
      "    puppetdb_sd_configs:\n      - url: https://pdb:8081\n"))
    assert(noQuery.exitCode == 1 &&
      noQuery.errors.exists(_.contains("query missing")), noQuery)
    // gce: project + zone required
    val noZone = check(job("    gce_sd_configs:\n      - project: p\n"))
    assert(noZone.exitCode == 1 && noZone.errors.exists(_.contains("zone")), noZone)
    // azure: subscription_id required
    val noSub = check(job("    azure_sd_configs:\n      - tenant_id: t\n"))
    assert(noSub.exitCode == 1 && noSub.errors.exists(_.contains("subscription_id")), noSub)
    // docker: host must be a url
    val badHost = check(job("    docker_sd_configs:\n      - host: 127.0.0.1:2375\n"))
    assert(badHost.exitCode == 1 && badHost.errors.exists(_.contains("must be a url")), badHost)
    assert(check(job(
      "    docker_sd_configs:\n      - host: unix:///var/run/docker.sock\n")).exitCode == 0)
    // dns: names required; non-SRV types need a port
    val noNames = check(job("    dns_sd_configs:\n      - type: SRV\n"))
    assert(noNames.exitCode == 1 &&
      noNames.errors.exists(_.contains("at least one SRV record name")), noNames)
    val noPort = check(job(
      "    dns_sd_configs:\n      - type: A\n        names: [x.example.com]\n"))
    assert(noPort.exitCode == 1 &&
      noPort.errors.exists(_.contains("require a port")), noPort)
  }

  test("check rules: good file passes, syntax and template errors fail, duplicates lint") {
    assert(ConfigCheck.checkRules(s"$d/rules.yml").exitCode == 0)
    // 'test +' is a parse error
    val syn = ConfigCheck.checkRules(s"$d/bad-rules-syntax.yml")
    assert(syn.exitCode == 1 &&
      syn.errors.exists(_.contains("could not parse expression")), syn.toString)
    // '{{ $label.foo }}' uses an undefined template variable
    val tmpl = ConfigCheck.checkRules(s"$d/rules-bad.yml")
    assert(tmpl.exitCode == 1 &&
      tmpl.errors.exists(_.contains("undefined variable \"$label\"")), tmpl.toString)
    // duplicate alert (same name + labels) is a lint issue -> 3
    val dup = ConfigCheck.checkRules(s"$d/prometheus-rules.lint.yml")
    assert(dup.exitCode == 3 &&
      dup.lintIssues.exists(_.contains("HighRequestLatency")), dup.toString)
  }

  test("check rules: a repeated group name and a __name__ rule label are errors") {
    val f = java.nio.file.Files.createTempFile("rules", ".yml")
    java.nio.file.Files.write(f,
      """groups:
        |  - name: g
        |    rules:
        |      - record: r
        |        expr: up
        |        labels:
        |          __name__: other
        |  - name: g
        |    rules:
        |      - alert: A
        |        expr: up == 0
        |""".stripMargin.getBytes("UTF-8"))
    val res = ConfigCheck.checkRules(f.toString)
    assert(res == ConfigCheck.Result(1, Seq(s"$f: invalid label name: __name__",
      s"$f: groupname: \"g\" is repeated in the same file"), Nil), res.toString)
  }

  test("remote_write/remote_read: strict fields, auth shapes, queue_config") {
    val dir = java.nio.file.Files.createTempDirectory("cfgrw")
    def check(body: String): ConfigCheck.Result = {
      val f = java.nio.file.Files.createTempFile(dir, "cfg", ".yml")
      java.nio.file.Files.write(f, body.getBytes("UTF-8"))
      ConfigCheck.checkConfig(f.toString)
    }
    // typo'd field inside an entry is an ERROR, like the reference's
    // strict unmarshal (r13 What's-wrong #2)
    val e1 = check(
      """remote_write:
        |  - url: http://x/w
        |    protobuf_messag: io.prometheus.write.v2.Request
        |""".stripMargin)
    assert(e1.exitCode == 1 && e1.errors.exists(_.contains("protobuf_messag")), e1.toString)
    val e2 = check(
      """remote_read:
        |  - url: http://x/r
        |    queue_config:
        |      capacity: 10
        |""".stripMargin)
    assert(e2.exitCode == 1 && e2.errors.exists(_.contains("queue_config")), e2.toString)
    // full sigv4 + queue_config entry validates green
    val ok = check(
      """remote_write:
        |  - url: http://x/w
        |    sigv4:
        |      region: us-east-1
        |      access_key: akid
        |      secret_key: sek
        |      role_arn: arn:aws:iam::1:role/rw
        |      external_id: eid
        |      use_fips_sts_endpoint: true
        |    queue_config:
        |      capacity: 20000
        |      max_shards: 10
        |      max_samples_per_send: 500
        |      retry_on_http_429: true
        |      sample_age_limit: 5m
        |""".stripMargin)
    assert(ok.exitCode == 0, ok.toString)
    // `sigv4: {}` = the documented default-credential-chain shape
    assert(check("remote_write:\n  - url: http://x/w\n    sigv4: {}\n").exitCode == 0)
    // key-pair completeness + external_id scoping (prometheus/sigv4 Validate)
    val e3 = check(
      "remote_write:\n  - url: http://x/w\n    sigv4:\n      access_key: only\n")
    assert(e3.errors.exists(_.contains("Access key and Secret Key")), e3.toString)
    val e4 = check(
      "remote_write:\n  - url: http://x/w\n    sigv4:\n      external_id: eid\n")
    assert(e4.errors.exists(_.contains("external_id can only be used with role_arn")), e4.toString)
    // at-most-one auth shape across ALL six (ref config.go:1559
    // validateAuthConfigs) — any pair errors, azuread present or not
    val e5 = check(
      """remote_write:
        |  - url: http://x/w
        |    sigv4: {}
        |    oauth2:
        |      client_id: cid
        |      client_secret: s
        |      token_url: http://t/token
        |""".stripMargin)
    assert(e5.errors.exists(e => e.contains("at most one of basic_auth") &&
      e.contains("[oauth2, sigv4]")), e5.toString)
    val e6 = check(
      """remote_write:
        |  - url: http://x/w
        |    google_iam:
        |      credentials_file: /k.json
        |    basic_auth:
        |      username: u
        |      password: p
        |""".stripMargin)
    assert(e6.errors.exists(_.contains("at most one of basic_auth")), e6.toString)
    // oauth2 shape validation, remote_write and remote_read alike
    val e7 = check(
      """remote_read:
        |  - url: http://x/r
        |    oauth2:
        |      client_secret: s
        |""".stripMargin)
    assert(e7.errors.exists(_.contains("client_id must be configured")) &&
      e7.errors.exists(_.contains("token_url must be configured")), e7.toString)
    val e8 = check(
      """remote_write:
        |  - url: http://x/w
        |    oauth2:
        |      client_id: cid
        |      token_url: http://t
        |      grant_type: implicit
        |""".stripMargin)
    assert(e8.errors.exists(_.contains("grant_type \"implicit\" is invalid")), e8.toString)
    // a custom `authorization` header names the auth shapes in its error
    // (ref config.go validateHeaders — distinct from the reserved message)
    val eAuthHdr = check(
      """remote_write:
        |  - url: http://x/w
        |    headers:
        |      Authorization: Bearer sneaky
        |""".stripMargin)
    assert(eAuthHdr.errors.exists(_.contains(
      "authorization header must be changed via the basic_auth, " +
      "authorization, oauth2, sigv4, azuread or google_iam parameter")),
      eAuthHdr.toString)
    // google_iam: only credentials_file is a known field
    val e9 = check(
      """remote_write:
        |  - url: http://x/w
        |    google_iam:
        |      credential_file: typo.json
        |""".stripMargin)
    assert(e9.errors.exists(_.contains("credential_file")), e9.toString)
    // queue_config value validation (ref config.go:1639)
    val e10 = check(
      """remote_write:
        |  - url: http://x/w
        |    queue_config:
        |      max_shards: 0
        |      max_samples_per_send: -5
        |      min_backoff: 10s
        |      max_backoff: 1s
        |""".stripMargin)
    assert(e10.errors.exists(_.contains("max_shards must be positive")) &&
      e10.errors.exists(_.contains("max_samples_per_send must be positive")) &&
      e10.errors.exists(_.contains("max_backoff must not be less than min_backoff")),
      e10.toString)
    // metadata_config: typo'd sub-field fails; proxy_connect_header is a
    // named unsupported shape (load-time rejection, not a silent no-op)
    val e12 = check(
      """remote_write:
        |  - url: http://x/w
        |    metadata_config:
        |      sends: true
        |""".stripMargin)
    assert(e12.errors.exists(_.contains("field sends not found")), e12.toString)
    val e13 = check(
      """remote_write:
        |  - url: http://x/w
        |    proxy_connect_header:
        |      X-Via: [p]
        |""".stripMargin)
    assert(e13.errors.exists(_.contains(
      "proxy_connect_header is not supported")), e13.toString)
    val e14 = check(
      """scrape_configs:
        |  - job_name: j
        |    proxy_connect_header:
        |      X-Via: [p]
        |""".stripMargin)
    assert(e14.errors.exists(_.contains(
      "proxy_connect_header is not supported")), e14.toString)
    // scrape jobs: oauth2 validates and excludes the fixed-header shapes
    val e11 = check(
      """scrape_configs:
        |  - job_name: j
        |    oauth2:
        |      client_id: cid
        |      token_url: http://t/token
        |    basic_auth:
        |      username: u
        |""".stripMargin)
    assert(e11.errors.exists(_.contains("at most one of basic_auth")), e11.toString)
    val okScrape = check(
      """scrape_configs:
        |  - job_name: j
        |    oauth2:
        |      client_id: cid
        |      client_secret: sek
        |      token_url: http://t/token
        |      scopes: [read, write]
        |      endpoint_params:
        |        audience: https://api
        |""".stripMargin)
    assert(okScrape.exitCode == 0, okScrape.toString)
    // alertmanager groups: sigv4+oauth2 validate, auth pairs error
    // (ref config.go:1410 — "at most one of basic_auth, authorization,
    // oauth2, & sigv4")
    val amPair = check(
      """alerting:
        |  alertmanagers:
        |    - static_configs:
        |        - targets: ['am:9093']
        |      sigv4: {}
        |      oauth2:
        |        client_id: cid
        |        client_secret: s
        |        token_url: http://t/token
        |""".stripMargin)
    assert(amPair.errors.exists(_.contains(
      "at most one of basic_auth, authorization, oauth2, & sigv4")), amPair.toString)
    val amBadSigv4 = check(
      """alerting:
        |  alertmanagers:
        |    - static_configs:
        |        - targets: ['am:9093']
        |      sigv4:
        |        access_key: only
        |""".stripMargin)
    assert(amBadSigv4.errors.exists(_.contains("Access key and Secret Key")),
      amBadSigv4.toString)
    val amOk = check(
      """alerting:
        |  alertmanagers:
        |    - static_configs:
        |        - targets: ['am:9093']
        |      sigv4:
        |        region: us-east-2
        |""".stripMargin)
    assert(amOk.exitCode == 0, amOk.toString)
  }


  test("one reader: the loader throws exactly what check config reports, per section") {
    val dir = java.nio.file.Files.createTempDirectory("cfgone")
    java.nio.file.Files.write(dir.resolve("inc.yml"),
      "scrape_configs:\n  - job_name: j\n".getBytes("UTF-8"))
    val job = "scrape_configs:\n  - job_name: j\n"
    val table = Seq(
      "bogus: 1\n" -> "field bogus not found in type config",
      job + "    scrape_interval: 5s\n    scrape_timeout: 10s\n" ->
        "scrape timeout greater than scrape interval for scrape config with job name \"j\"",
      job + "    kubernetes_sd_configs:\n      - role: podz\n" ->
        ("job \"j\": role \"podz\" (must be one of endpoints, endpointslice, " +
          "ingress, node, pod, service)"),
      "remote_write:\n  - url: http://x/w\n    queue_config:\n      max_shards: 0\n" ->
        "remote_write: remote write queue max_shards must be positive",
      "remote_read:\n  - url: http://x/r\n    queue_config:\n      capacity: 1\n" ->
        "remote_read: field queue_config not found in type config",
      "alerting:\n  alertmanagers:\n    - api_version: v1\n" ->
        "alertmanager config: invalid api_version \"v1\" (only \"v2\" is supported)",
      "otlp:\n  promote_all_resource_attributes: true\n  promote_resource_attributes: [a]\n" ->
        ("'promote_all_resource_attributes' and 'promote_resource_attributes' " +
          "cannot be configured simultaneously"),
      job + "scrape_config_files:\n  - inc.yml\n" ->
        "found multiple scrape configs with job name \"j\"")
    table.zipWithIndex.foreach { case ((body, expected), i) =>
      val f = dir.resolve(s"c$i.yml")
      java.nio.file.Files.write(f, body.getBytes("UTF-8"))
      val thrown = intercept[Config.ConfigError](Config.load(f.toString)).errors
      assert(thrown.contains(expected), s"$body: $thrown")
      val checked = ConfigCheck.checkConfig(f.toString)
      assert(checked.exitCode == 1 && checked.errors == thrown.map(e => s"$f: $e"),
        s"$body: $checked")
    }
  }

  test("ConfigCheck reads prometheus.yml only through the loader") {
    val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      "src/main/scala/graft/streaming/ConfigCheck.scala")), "UTF-8")
    // the ConfigCheck object only: WebConfigCheck reads web-config.yml
    val start = src.indexOf("object ConfigCheck {")
    assert(start >= 0, "object ConfigCheck not found")
    val end = src.indexOf("\nobject ", start + 1) match { case -1 => src.length; case e => e }
    val body = src.substring(start, end)
    val offenders = Seq("YamlLite.parse", "scrape_configs", "_sd_configs",
      "remote_write", "queue_config").filter(body.contains)
    assert(offenders.isEmpty, s"parse prometheus.yml in Config, not ConfigCheck: $offenders")
  }
}

/** `promtool check web-config` analog (ref: exporter-toolkit web.Validate);
  * the reference's own documentation example must pass apart from its
  * missing certificate files. */
class WebConfigCheckSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def tmp(content: String, dir: java.nio.file.Path): String = {
    val f = java.nio.file.Files.createTempFile(dir, "web", ".yml")
    java.nio.file.Files.writeString(f, content)
    f.toString
  }

  test("reference example: valid except unreadable cert/key files") {
    val errs = WebConfigCheck.check(
      "/root/reference/documentation/examples/web-config.yml")
    assert(errs == Seq("cert_file: could not read server.crt",
      "key_file: could not read server.key"), errs)
  }

  test("field strictness, TLS pairing, enums, headers, bcrypt") {
    val dir = java.nio.file.Files.createTempDirectory("webcfg")
    assert(WebConfigCheck.check(tmp("", dir)).isEmpty)
    assert(WebConfigCheck.check(tmp("bogus_top: 1\n", dir)) ==
      Seq("field bogus_top not found in type web.Config"))

    val cert = dir.resolve("a.crt"); java.nio.file.Files.writeString(cert, "x")
    val e1 = WebConfigCheck.check(tmp(
      s"""tls_server_config:
         |  cert_file: a.crt
         |""".stripMargin, dir))
    assert(e1 == Seq("missing key_file"), e1)

    val e2 = WebConfigCheck.check(tmp(
      """tls_server_config:
        |  client_auth_type: Nope
        |  min_version: TLS09
        |""".stripMargin, dir))
    assert(e2.exists(_.contains("invalid ClientAuth")) &&
      e2.exists(_.contains("unknown TLS version: TLS09")), e2)

    val e3 = WebConfigCheck.check(tmp(
      """http_server_config:
        |  http2: maybe
        |  headers:
        |    X-Frame-Options: always
        |    X-Custom: nope
        |""".stripMargin, dir))
    assert(e3.exists(_.contains("cannot unmarshal maybe into bool")) &&
      e3.exists(_.contains("\"X-Custom\" cannot be configured")) &&
      e3.exists(_.contains("possible values for \"X-Frame-Options\"")), e3)

    val e4 = WebConfigCheck.check(tmp(
      """basic_auth_users:
        |  alice: $2y$10$mDwo.lAisC94iLAyP81MCesa29IzH37oigHC/42V2pdJlUprsJPze
        |  mallory: plaintext-password
        |""".stripMargin, dir))
    assert(e4 == Seq("invalid bcrypt hash for user mallory"), e4)

    // a section header with a commented-out body is a zero struct in the
    // reference (valid); a parse failure is a FAILED line, not a crash
    assert(WebConfigCheck.check(tmp(
      """tls_server_config:
        |# cert_file: a.crt
        |http_server_config:
        |basic_auth_users:
        |""".stripMargin, dir)).isEmpty)
    val e5 = WebConfigCheck.check(tmp("   :::garbage\n  - ]{\n", dir))
    assert(e5.size == 1 && e5.head.startsWith("parse error:"), e5)
  }
}
