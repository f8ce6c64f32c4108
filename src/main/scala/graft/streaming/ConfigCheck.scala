package graft.streaming

import graft.promqltest.YamlLite
import graft.promqltest.YamlLite.{YList, YMap, YNode, YScalar}

/** promtool `check config` / `check rules` analog (ref: cmd/promtool/
  * main.go:540 CheckConfig, :940 CheckRules, exit codes main.go:70
  * successExitCode=0 / failureExitCode=1 / lintErrExitCode=3).
  *
  * Validation follows the reference's strict unmarshal: unknown top-level /
  * global / scrape-config fields are ERRORS (yaml.UnmarshalStrict), rule
  * files referenced by the config must load (missing file = error, like
  * promtool), rule expressions must parse, and alert templates must use
  * known variables ($labels/$value/$externalLabels — `$label.foo` is the
  * reference's template execution error). Lint: duplicate rules (same
  * name + labels, main.go:1006 checkDuplicates) → exit 3.
  */
object ConfigCheck {

  final case class Result(exitCode: Int, errors: Seq[String], lintIssues: Seq[String])

  private val topLevelFields = Set(
    "global", "runtime", "rule_files", "scrape_config_files", "scrape_configs",
    "alerting", "remote_write", "remote_read", "storage", "tracing", "otlp")

  private val globalFields = Set(
    "scrape_interval", "scrape_timeout", "scrape_protocols",
    "evaluation_interval", "rule_query_offset", "query_log_file",
    "scrape_failure_log_file", "external_labels", "body_size_limit",
    "sample_limit", "label_limit", "label_name_length_limit",
    "label_value_length_limit", "target_limit", "keep_dropped_targets",
    "metric_name_validation_scheme", "metric_name_escaping_scheme",
    "always_scrape_classic_histograms", "convert_classic_histograms_to_nhcb")

  private val scrapeFields = Set(
    "job_name", "scrape_interval", "scrape_timeout", "scrape_protocols",
    "scrape_failure_log_file",
    "metrics_path", "scheme", "honor_labels", "honor_timestamps",
    "track_timestamps_staleness", "params", "basic_auth", "authorization",
    "oauth2", "tls_config", "proxy_url", "no_proxy", "proxy_from_environment",
    "proxy_connect_header", "follow_redirects", "enable_http2",
    "relabel_configs", "metric_relabel_configs", "body_size_limit",
    "sample_limit", "label_limit", "label_name_length_limit",
    "label_value_length_limit", "target_limit", "keep_dropped_targets",
    "native_histogram_bucket_limit", "native_histogram_min_bucket_factor",
    "always_scrape_classic_histograms", "convert_classic_histograms_to_nhcb",
    "fallback_scrape_protocol", "enable_compression", "static_configs",
    "http_headers", "metric_name_validation_scheme", "metric_name_escaping_scheme")

  // ref: config/config.go:1330 AlertmanagerConfig yaml fields
  private val alertmanagerFields = Set(
    "timeout", "api_version", "path_prefix", "scheme", "static_configs",
    "relabel_configs", "alert_relabel_configs", "basic_auth", "authorization",
    "sigv4", "oauth2", "tls_config", "proxy_url", "no_proxy",
    "proxy_from_environment", "proxy_connect_header", "follow_redirects",
    "enable_http2", "http_headers")

  // ref: common HTTPClientConfig OAuth2 yaml tags (configuration.md:3034)
  private val oauth2Fields = Set(
    "client_id", "client_secret", "client_secret_file", "grant_type",
    "client_certificate_key", "client_certificate_key_file",
    "client_certificate_key_id", "signature_algorithm", "iss", "audience",
    "claims", "scopes", "token_url", "endpoint_params", "tls_config",
    "proxy_url", "no_proxy", "proxy_from_environment", "proxy_connect_header")

  private def unknownKeys(m: YMap, known: Set[String],
      where: String, alsoOk: String => Boolean = _ => false): Seq[String] =
    m.keys.filterNot(k => known(k) || alsoOk(k))
      .map(k => s"$where: field $k not found in type config")

  /** template variables the reference's AlertTemplateData exposes — an
    * unknown `$x` fails template execution in promtool's test-expansion.
    * Only `$identifier` occurrences INSIDE `{{ ... }}` template actions are
    * variables (text/template evaluates actions only); a literal
    * "check $HOSTNAME in the runbook" outside an action passes. */
  private def templateErrors(text: String, where: String): Seq[String] = {
    // syntax check through the real template parser (ref: rulefmt testTemplateParsing
    // via template.Expander.ParseTest)
    val parseErr =
      if (!text.contains("{{")) None
      else new graft.template.GoTemplate.Expander(text, "__alert_", null, 0L, _ => Nil)
        .parseTest().map(e => s"$where: template parse error: $e")
    // variables declared inside the template (`$x :=`, `range $i, $v :=`)
    // are defined; everything else must come from AlertTemplateData
    val declared = "((?:\\$[A-Za-z_][A-Za-z0-9_]*\\s*,\\s*)*\\$[A-Za-z_][A-Za-z0-9_]*)\\s*:?=".r
      .findAllMatchIn(text).flatMap(m =>
        "\\$([A-Za-z_][A-Za-z0-9_]*)".r.findAllMatchIn(m.group(1)).map(_.group(1))).toSet
    val undef = "(?s)\\{\\{(.*?)\\}\\}".r.findAllMatchIn(text).toSeq.flatMap(a =>
      "\\$([A-Za-z_][A-Za-z0-9_]*)".r.findAllMatchIn(a.group(1)).map(_.group(1)))
      .filterNot(declared ++ Set("labels", "value", "externalLabels", "externalURL"))
      .map(v => s"$where: undefined variable \"$$$v\" in template")
    parseErr.toSeq ++ undef
  }

  /** check one rule file: (errors, lint issues, rule count) */
  def checkRuleFile(path: String): (Seq[String], Seq[String], Int) = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p))
      return (Seq(s"$path: no such file or directory"), Nil, 0)
    try {
      val root = YamlLite.parse(
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8")) match {
        case m: YMap => m
        case other => return (Seq(s"$path: expected mapping, got $other"), Nil, 0)
      }
      val errs = Seq.newBuilder[String]
      // (name, sorted labels) per rule for the duplicate lint
      val seenKeys = scala.collection.mutable.ArrayBuffer[(String, Seq[(String, String)])]()
      var count = 0
      root.list("groups").foreach {
        case g: YMap =>
          g.list("rules").foreach {
            case r: YMap =>
              count += 1
              val record = r.str("record").getOrElse("")
              val alert = r.str("alert").getOrElse("")
              if (record.nonEmpty == alert.nonEmpty)
                errs += s"$path: rule must have exactly one of 'record' and 'alert'"
              r.str("expr") match {
                case None => errs += s"$path: rule missing expr"
                case Some(e) =>
                  try graft.promql.Engine.parse(e)
                  catch { case ex: Throwable =>
                    errs += s"$path: could not parse expression: ${ex.getMessage}" }
              }
              def kv(key: String): Seq[(String, String)] = r.get(key) match {
                case Some(m: YMap) => m.entries.collect { case (k, YScalar(v)) => k -> v }
                case _ => Nil
              }
              (kv("labels") ++ kv("annotations")).foreach { case (_, v) =>
                errs ++= templateErrors(v, path) }
              seenKeys += ((if (alert.nonEmpty) alert else record,
                kv("labels").sortBy(_._1)))
            case _ => errs += s"$path: bad rule node"
          }
        case _ => errs += s"$path: bad group node"
      }
      val dups = seenKeys.groupBy(identity).filter(_._2.size > 1).keys.toSeq
        .map { case (n, _) => s"$path: duplicate rule $n" }
      (errs.result(), dups, count)
    } catch {
      case e: Throwable => (Seq(s"$path: ${e.getMessage}"), Nil, 0)
    }
  }

  /** promtool `check rules <file>` */
  def checkRules(path: String): Result = {
    val (errs, lint, _) = checkRuleFile(path)
    if (errs.nonEmpty) Result(1, errs, lint)
    else if (lint.nonEmpty) Result(3, Nil, lint)
    else Result(0, Nil, Nil)
  }

  /** promtool `check config <file>` */
  def checkConfig(path: String): Result = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p))
      return Result(1, Seq(s"$path: no such file or directory"), Nil)
    val text =
      try new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      catch { case e: Throwable => return Result(1, Seq(e.getMessage), Nil) }
    val root = YamlLite.parse(text) match {
      case m: YMap => m
      case YScalar("") => YMap(Nil) // an empty config is valid
      case _: YList => return Result(1, Seq(s"$path: expected a mapping"), Nil)
      case _ => YMap(Nil)
    }
    val errs = Seq.newBuilder[String]
    errs ++= unknownKeys(root, topLevelFields, path)
    root.get("global") match {
      case Some(g: YMap) => errs ++= unknownKeys(g, globalFields, s"$path global")
      case _ => ()
    }
    // effective scrape interval/timeout for the timeout>interval rule (ref
    // config.go validate: "scrape timeout greater than scrape interval for
    // scrape config with job name %q"; defaults 1m / 10s)
    val globalY = root.get("global") match {
      case Some(g: YMap) => g
      case _ => YMap(Nil)
    }
    def durMsOf(v: Option[String], dflt: Long): Long =
      v.flatMap(x => scala.util.Try(
        graft.promqltest.TestScript.parseTime(x)).toOption).getOrElse(dflt)
    val globalScrapeIntervalMs = durMsOf(globalY.str("scrape_interval"), 60000L)
    val globalScrapeTimeoutMs = durMsOf(globalY.str("scrape_timeout"), 10000L)
    def checkTimeoutVsInterval(sc: YMap, job: String): Unit = {
      val interval = durMsOf(sc.str("scrape_interval"), globalScrapeIntervalMs)
      val timeout = durMsOf(sc.str("scrape_timeout"), globalScrapeTimeoutMs)
      if (timeout > interval)
        errs += s"$path: scrape timeout greater than scrape interval for " +
          s"""scrape config with job name "$job""""
    }
    if (globalScrapeTimeoutMs > globalScrapeIntervalMs)
      errs += s"$path: global scrape timeout greater than scrape interval"
    // remote_write / remote_read custom headers must not shadow the
    // protocol's own (ref: config.go reservedHeaders +
    // RemoteWriteConfig.UnmarshalYAML's special-cased authorization)
    val reservedHeaders = Set("authorization", "host", "content-encoding",
      "content-length", "content-type", "user-agent", "connection",
      "keep-alive", "proxy-authenticate", "proxy-authorization",
      "www-authenticate", "accept-encoding",
      "x-prometheus-remote-write-version", "x-prometheus-remote-read-version",
      "x-amz-date", "x-amz-security-token", "x-amz-content-sha256",
      // JDK HttpRequest.Builder refuses these outright — accepting them at
      // config time would surface as per-batch send failures instead of a
      // load error (java.net.http restricted header set)
      "expect", "upgrade", "trailer", "transfer-encoding", "te")
    // otlp: receiver block validation (ref config.go:1785 OTLPConfig
    // UnmarshalYAML — promote-all/promote exclusivity, ignore only with
    // promote-all, attribute sanity; translation_strategy limited to the
    // underscore-escaping default this engine implements)
    root.get("otlp") match {
      case Some(o: YMap) =>
        errs ++= unknownKeys(o, Set("promote_all_resource_attributes",
          "promote_resource_attributes", "ignore_resource_attributes",
          "translation_strategy", "keep_identifying_resource_attributes",
          "convert_histograms_to_nhcb", "promote_scope_metadata",
          "label_name_underscore_sanitization",
          "label_name_preserve_multiple_underscores"), s"$path otlp")
        def attrs(k: String): Seq[String] = o.get(k) match {
          case Some(YList(items)) => items.collect { case YScalar(v) => v }
          case _ => Nil
        }
        val promoteAll = o.str("promote_all_resource_attributes").contains("true")
        val promote = attrs("promote_resource_attributes")
        val ignore = attrs("ignore_resource_attributes")
        if (promoteAll && promote.nonEmpty)
          errs += s"$path: 'promote_all_resource_attributes' and " +
            "'promote_resource_attributes' cannot be configured simultaneously"
        if (!promoteAll && ignore.nonEmpty)
          errs += s"$path: 'ignore_resource_attributes' cannot be configured " +
            "unless 'promote_all_resource_attributes' is true"
        val (checkList, what) =
          if (promoteAll) (ignore, "ignored") else (promote, "promoted")
        val seenAttr = scala.collection.mutable.Set[String]()
        checkList.foreach { a =>
          if (a.trim.isEmpty) errs += s"$path: empty $what OTLP resource attribute"
          else if (!seenAttr.add(a))
            errs += s"""$path: duplicated $what OTLP resource attribute "$a""""
        }
        o.str("translation_strategy").foreach {
          case "UnderscoreEscapingWithSuffixes" => ()
          case v @ ("NoUTF8EscapingWithSuffixes" | "NoTranslation" |
                    "UnderscoreEscapingWithoutSuffixes") =>
            errs += s"$path: otlp translation_strategy $v is not supported " +
              "by this engine (UnderscoreEscapingWithSuffixes only)"
          case v =>
            errs += s"""$path: unsupported OTLP translation strategy "$v""""
        }
      case _ => ()
    }
    // strict per-entry field sets (ref: config.go:1482 RemoteWriteConfig /
    // :1679 RemoteReadConfig yaml tags + the inlined HTTPClientConfig —
    // yaml.UnmarshalStrict makes a typo'd field a load error upstream)
    val httpClientFields = Set(
      "basic_auth", "authorization", "oauth2", "bearer_token",
      "bearer_token_file", "tls_config", "proxy_url", "no_proxy",
      "proxy_from_environment", "proxy_connect_header", "follow_redirects",
      "enable_http2", "http_headers")
    val remoteWriteFields = Set(
      "url", "remote_timeout", "headers", "write_relabel_configs", "name",
      "send_exemplars", "send_native_histograms", "round_robin_dns",
      "protobuf_message", "failed_request_logging", "queue_config",
      "metadata_config", "sigv4", "azuread", "google_iam") ++ httpClientFields
    val remoteReadFields = Set(
      "url", "remote_timeout", "chunked_read_limit", "headers",
      "read_recent", "name", "required_matchers",
      "filter_external_labels") ++ httpClientFields
    Seq("remote_write", "remote_read").foreach { section =>
      root.list(section).foreach {
        case m: YMap =>
          errs ++= unknownKeys(m,
            if (section == "remote_write") remoteWriteFields else remoteReadFields,
            s"$path $section")
          if (m.str("url").forall(_.isEmpty))
            errs += s"$path: $section: url is required"
          m.get("headers") match {
            case Some(h: YMap) => h.entries.foreach { case (k, _) =>
              // authorization gets its own message pointing at the auth
              // shapes (ref config.go validateHeaders); other reserved
              // names share the generic error
              if (k.equalsIgnoreCase("authorization"))
                errs += s"$path: $section: authorization header must be " +
                  "changed via the basic_auth, authorization, oauth2, " +
                  "sigv4, azuread or google_iam parameter"
              else if (reservedHeaders(k.toLowerCase))
                errs += s"$path: $section: $k is a reserved header. It must not be changed"
            }
            case _ => ()
          }
          // at-most-one auth shape per entry across ALL six shapes (ref
          // config.go:1559 validateAuthConfigs — upstream errors whenever
          // two are present, whatever the pair)
          val authShapes = Seq(
            "basic_auth" -> m.get("basic_auth").isDefined,
            "authorization" -> (m.get("authorization").isDefined ||
              m.str("bearer_token").exists(_.nonEmpty) ||
              m.str("bearer_token_file").exists(_.nonEmpty)),
            "oauth2" -> m.get("oauth2").isDefined,
            "sigv4" -> m.get("sigv4").isDefined,
            "azuread" -> m.get("azuread").isDefined,
            "google_iam" -> m.get("google_iam").isDefined).collect {
              case (n, true) => n }
          if (authShapes.size > 1)
            errs += s"$path: $section: at most one of basic_auth, " +
              "authorization, oauth2, sigv4, azuread or google_iam must be " +
              s"configured. Currently configured: [${authShapes.mkString(", ")}]"
          // oauth2: full shape validation (ref: common HTTPClientConfig
          // OAuth2 Validate — also applied to scrape jobs below)
          m.get("oauth2") match {
            case Some(o: YMap) =>
              errs ++= unknownKeys(o, oauth2Fields, s"$path $section oauth2")
              graft.web.OAuth2.validate(Config.oauth2Of(o, p)).foreach(e =>
                errs += s"$path: $section: $e")
            case _ => ()
          }
          // sigv4: key-pair completeness + external_id scoping (ref: the
          // prometheus/sigv4 library's Validate; configuration.md:3715)
          m.get("sigv4") match {
            case Some(s4: YMap) =>
              errs ++= unknownKeys(s4, Set("region", "access_key",
                "secret_key", "profile", "role_arn", "external_id",
                "use_fips_sts_endpoint"), s"$path $section sigv4")
              val ak = s4.str("access_key").exists(_.nonEmpty)
              val sk = s4.str("secret_key").exists(_.nonEmpty)
              if (ak != sk)
                errs += s"$path: $section: must provide a AWS SigV4 Access " +
                  "key and Secret Key if credentials are specified in the SigV4 config"
              if (s4.str("external_id").exists(_.nonEmpty) &&
                  s4.str("role_arn").forall(_.isEmpty))
                errs += s"$path: $section: sigv4 external_id can only be " +
                  "used with role_arn"
            case _ => ()
          }
          if (section == "remote_write") m.get("google_iam") match {
            case Some(g: YMap) =>
              errs ++= unknownKeys(g, Set("credentials_file"),
                s"$path $section google_iam")
            case _ => ()
          }
          // metadata_config: known fields only (ref config.go:1664
          // MetadataConfig — send / send_interval / max_samples_per_send)
          if (section == "remote_write") m.get("metadata_config") match {
            case Some(mc: YMap) =>
              errs ++= unknownKeys(mc, Set("send", "send_interval",
                "max_samples_per_send"), s"$path $section metadata_config")
            case _ => ()
          }
          // proxy_connect_header: valid upstream (headers on the CONNECT
          // to the proxy) but the JDK HTTP client cannot set CONNECT
          // headers — reject at load instead of silently dropping (the
          // azuread-sdk precedent for honest unsupported shapes)
          if (m.get("proxy_connect_header").isDefined)
            errs += s"$path: $section: proxy_connect_header is not " +
              "supported by this engine"
          // queue_config value validation (ref config.go:1639
          // QueueConfig.Validate)
          if (section == "remote_write") m.get("queue_config") match {
            case Some(q: YMap) =>
              errs ++= unknownKeys(q, Set("capacity", "max_shards",
                "min_shards", "max_samples_per_send", "batch_send_deadline",
                "min_backoff", "max_backoff", "retry_on_http_429",
                "sample_age_limit"), s"$path $section queue_config")
              def num(k: String, dflt: Long): Long =
                q.str(k).flatMap(v => scala.util.Try(v.trim.toLong).toOption)
                  .getOrElse(dflt)
              val maxShards = num("max_shards", 50)
              val minShards = num("min_shards", 1)
              if (maxShards <= 0)
                errs += s"$path: $section: remote write queue max_shards must be positive"
              if (minShards <= 0)
                errs += s"$path: $section: remote write queue min_shards must be positive"
              if (minShards > maxShards && maxShards > 0)
                errs += s"$path: $section: remote write queue min_shards must not be greater than max_shards"
              if (num("max_samples_per_send", 2000) <= 0)
                errs += s"$path: $section: remote write queue max_samples_per_send must be positive"
              if (num("capacity", 10000) <= 0)
                errs += s"$path: $section: remote write queue capacity must be positive"
              def dur(k: String, dflt: Long): Long =
                q.str(k).flatMap(v =>
                  scala.util.Try(graft.promqltest.TestScript.parseTime(v)).toOption)
                  .getOrElse(dflt)
              if (dur("max_backoff", 5000L) < dur("min_backoff", 30L))
                errs += s"$path: $section: remote write queue max_backoff must not be less than min_backoff"
            case _ => ()
          }
          // azuread: full shape validation (ref azuread.go Validate) +
          // at-most-one-auth-method across the whole entry (ref config.go
          // validateAuthConfigs)
          m.get("azuread") match {
            case Some(az: YMap) =>
              def sub(key: String): Option[YMap] =
                az.get(key).collect { case s: YMap => s }
              def s(n: YMap, k: String): String =
                n.str(k).filter(_.nonEmpty).getOrElse("")
              val cfg = graft.web.AzureAd.Config(
                cloud = az.str("cloud").filter(_.nonEmpty)
                  .getOrElse(graft.web.AzureAd.AzurePublic),
                scope = az.str("scope").getOrElse(""),
                managedIdentity = sub("managed_identity").map(mi =>
                  graft.web.AzureAd.ManagedIdentity(s(mi, "client_id"))),
                workloadIdentity = sub("workload_identity").map(wi =>
                  graft.web.AzureAd.WorkloadIdentity(
                    s(wi, "client_id"), s(wi, "tenant_id"), s(wi, "token_file_path"))),
                oauth = sub("oauth").map(o => graft.web.AzureAd.OAuth(
                  s(o, "client_id"), s(o, "client_secret"), s(o, "tenant_id"))),
                sdk = sub("sdk").map(k => graft.web.AzureAd.Sdk(s(k, "tenant_id"))),
                certificate = sub("certificate").map(c =>
                  graft.web.AzureAd.Certificate(s(c, "client_id"),
                    s(c, "tenant_id"), s(c, "certificate_path"))))
              graft.web.AzureAd.validate(cfg).foreach(e =>
                errs += s"$path: $section: $e")
              // `sdk` runs as the DefaultAzureCredential chain subset (env
              // secret/cert → workload identity → IMDS, see AzureAd) —
              // accepted here like upstream; mutual exclusion with the
              // other auth shapes is the section-wide at-most-one check
            case _ => ()
          }
        case _ => ()
      }
    }
    // per-provider required-field/enum validation, shared between
    // scrape_configs and alerting.alertmanagers groups — the reference's
    // AlertmanagerConfig embeds the same discovery.Configs
    // (ref: config/config.go:1346 ServiceDiscoveryConfigs)
    def checkSdConfigs(sc: YMap, job: String): Unit = {
        // required fields / enums of the providers this engine implements
        // (ref: each SDConfig's Validate/UnmarshalYAML)
        val k8sRoles = Set("node", "pod", "service", "endpoints",
          "endpointslice", "ingress")
        sc.list("kubernetes_sd_configs").foreach {
          case kc: YMap =>
            val role = kc.str("role").getOrElse("")
            if (!k8sRoles(role))
              errs += s"""$path: job "$job": role "$role" (must be one of """ +
                k8sRoles.toSeq.sorted.mkString(", ") + ")"
            // selectors: one per role, each allowed for the main role
            // (ref: kubernetes.go UnmarshalYAML allowedSelectors)
            val seen = scala.collection.mutable.Set.empty[String]
            kc.list("selectors").foreach {
              case sm: YMap =>
                val sr = sm.str("role").getOrElse("")
                if (!seen.add(sr))
                  errs += s"""$path: job "$job": duplicated selector role: $sr"""
                KubernetesSd.allowedSelectors.get(role).foreach { ok =>
                  if (!ok.contains(sr))
                    errs += s"""$path: job "$job": $role role supports only """ +
                      ok.mkString(", ") + " selectors"
                }
              case _ => ()
            }
            // own_namespace needs the in-cluster mount
            // (ref: kubernetes.go UnmarshalYAML)
            val ownNs = kc.get("namespaces") match {
              case Some(nm: YMap) => nm.str("own_namespace").contains("true")
              case _ => false
            }
            if (ownNs && kc.str("api_server").exists(_.nonEmpty))
              errs += s"""$path: job "$job": cannot use 'api_server' and """ +
                "'namespaces.own_namespace' simultaneously"
          case _ => ()
        }
        // NOTE: an omitted EC2/Lightsail region is VALID — the reference
        // resolves it from the instance metadata at runtime, and promtool's
        // own corpus pins that (prometheus-aws-sd-empty-region.good.yml).
        // Same for ecs/rds/msk/elasticache: their UnmarshalYAML defers
        // region resolution to SD init (ref #19037) so a config-only check
        // makes no network calls.
        // ecs: request_concurrency must stay positive when given (it bounds
        // the provider's API fan-out; ref ecs.go RequestConcurrency)
        sc.list("ecs_sd_configs").foreach {
          case ec: YMap =>
            if (ec.str("request_concurrency").exists(s =>
                scala.util.Try(s.toInt).toOption.forall(_ <= 0)))
              errs += s"""$path: job "$job": ecs_sd: request_concurrency must be a positive integer"""
          case _ => ()
        }
        // rds: every filter needs a name and at least one value — they
        // forward verbatim to DescribeDBInstances (ref rds.go Filters)
        sc.list("rds_sd_configs").foreach {
          case rc: YMap =>
            rc.list("filters").foreach {
              case f: YMap =>
                if (f.str("name").forall(_.isEmpty))
                  errs += s"""$path: job "$job": rds_sd: filter missing a name"""
                if (f.list("values").isEmpty)
                  errs += s"""$path: job "$job": rds_sd: filter requires at least one value"""
              case _ => ()
            }
          case _ => ()
        }
        // hetzner: role required (ref: hetzner.go UnmarshalYAML)
        sc.list("hetzner_sd_configs").foreach {
          case hz: YMap =>
            val role = hz.str("role").getOrElse("")
            if (role.isEmpty)
              errs += s"""$path: job "$job": role missing (one of: robot, hcloud)"""
            else if (role != "robot" && role != "hcloud")
              errs += s"""$path: job "$job": unknown role "$role" (one of: robot, hcloud)"""
          case _ => ()
        }
        // openstack: role + region required (ref: openstack.go UnmarshalYAML)
        sc.list("openstack_sd_configs").foreach {
          case os: YMap =>
            val role = os.str("role").getOrElse("")
            if (role.isEmpty)
              errs += s"""$path: job "$job": role missing (one of: instance, hypervisor, loadbalancer)"""
            else if (!Set("instance", "hypervisor", "loadbalancer")(role))
              errs += s"""$path: job "$job": unknown OpenStack SD role "$role""""
            if (os.str("region").forall(_.isEmpty))
              errs += s"""$path: job "$job": openstack SD configuration requires a region"""
          case _ => ()
        }
        // digitalocean: role enum (ref: digitalocean.go Role.UnmarshalYAML)
        sc.list("digitalocean_sd_configs").foreach {
          case oc: YMap =>
            val role = oc.str("role").getOrElse("droplets")
            if (role != "droplets" && role != "databases")
              errs += s"""$path: job "$job": unknown DigitalOcean SD role "$role""""
          case _ => ()
        }
        // eureka: server required + a valid URL (ref: eureka.go UnmarshalYAML)
        sc.list("eureka_sd_configs").foreach {
          case ec: YMap =>
            val server = ec.str("server").getOrElse("")
            if (server.isEmpty)
              errs += s"""$path: job "$job": empty or null eureka server"""
            else if (!server.matches("^https?://[^/]+.*"))
              errs += s"""$path: job "$job": invalid eureka server URL"""
          case _ => ()
        }
        // marathon: at least one server (ref: marathon.go UnmarshalYAML)
        sc.list("marathon_sd_configs").foreach {
          case mc: YMap =>
            if (mc.list("servers").isEmpty)
              errs += s"""$path: job "$job": marathon_sd: must contain at least one Marathon server"""
            if (mc.str("auth_token").exists(_.nonEmpty) &&
                mc.str("auth_token_file").exists(_.nonEmpty))
              errs += s"""$path: job "$job": marathon_sd: at most one of auth_token & auth_token_file must be configured"""
          case _ => ()
        }
        // puppetdb: url (http/https with host) + query (ref: puppetdb.go)
        sc.list("puppetdb_sd_configs").foreach {
          case pc: YMap =>
            val url = pc.str("url").getOrElse("")
            if (url.isEmpty)
              errs += s"""$path: job "$job": URL is missing"""
            else if (!url.matches("^https?://.*"))
              errs += s"""$path: job "$job": URL scheme must be 'http' or 'https'"""
            else if (url.matches("^https?://(/.*)?$"))
              errs += s"""$path: job "$job": host is missing in URL"""
            if (pc.str("query").forall(_.isEmpty))
              errs += s"""$path: job "$job": query missing"""
          case _ => ()
        }
        // dockerswarm: host url + role enum (ref: moby/dockerswarm.go)
        sc.list("dockerswarm_sd_configs").foreach {
          case dk: YMap =>
            val host = dk.str("host").getOrElse("")
            if (host.isEmpty)
              errs += s"""$path: job "$job": host missing"""
            else if (!host.matches("^(tcp|http|https|unix)://.*"))
              errs += s"""$path: job "$job": Docker Swarm SD host "$host" must be a url"""
            val role = dk.str("role").getOrElse("")
            if (!Set("services", "tasks", "nodes")(role))
              errs += s"""$path: job "$job": invalid role $role, expected tasks, services, or nodes"""
          case _ => ()
        }
        // triton: role enum + account/dns_suffix/endpoint (ref: triton.go)
        sc.list("triton_sd_configs").foreach {
          case tc: YMap =>
            val role = tc.str("role").getOrElse("container")
            if (role != "container" && role != "cn")
              errs += s"""$path: job "$job": triton SD configuration requires role to be 'container' or 'cn'"""
            if (tc.str("account").forall(_.isEmpty))
              errs += s"""$path: job "$job": triton SD configuration requires an account"""
            if (tc.str("dns_suffix").forall(_.isEmpty))
              errs += s"""$path: job "$job": triton SD configuration requires a dns_suffix"""
            if (tc.str("endpoint").forall(_.isEmpty))
              errs += s"""$path: job "$job": triton SD configuration requires an endpoint"""
          case _ => ()
        }
        // ovhcloud: keys + service enum (ref: ovhcloud.go UnmarshalYAML)
        sc.list("ovhcloud_sd_configs").foreach {
          case oc: YMap =>
            if (oc.str("application_key").forall(_.isEmpty))
              errs += s"""$path: job "$job": application key can not be empty"""
            if (oc.str("application_secret").forall(_.isEmpty))
              errs += s"""$path: job "$job": application secret can not be empty"""
            if (oc.str("consumer_key").forall(_.isEmpty))
              errs += s"""$path: job "$job": consumer key can not be empty"""
            val svc = oc.str("service").getOrElse("")
            if (svc != "vps" && svc != "dedicated_server")
              errs += s"""$path: job "$job": unknown service: $svc"""
          case _ => ()
        }
        // ionos: datacenter_id required (ref: ionos.go UnmarshalYAML)
        sc.list("ionos_sd_configs").foreach {
          case ic: YMap =>
            if (ic.str("datacenter_id").forall(_.isEmpty))
              errs += s"""$path: job "$job": datacenter id can't be empty"""
          case _ => ()
        }
        // serverset/nerve: servers + absolute paths (ref: zookeeper.go)
        Seq("serverset" -> "serverset_sd_configs",
            "nerve" -> "nerve_sd_configs").foreach { case (kind, key) =>
          sc.list(key).foreach {
            case zc: YMap =>
              if (zc.list("servers").isEmpty)
                errs += s"""$path: job "$job": $kind SD config must contain at least one Zookeeper server"""
              if (zc.list("paths").isEmpty)
                errs += s"""$path: job "$job": $kind SD config must contain at least one path"""
              zc.list("paths").foreach {
                case YScalar(p) if !p.startsWith("/") =>
                  errs += s"""$path: job "$job": $kind SD config paths must begin with '/': $p"""
                case _ => ()
              }
            case _ => ()
          }
        }
        // kuma: server must be an http(s) URL (ref: xds/client.go)
        sc.list("kuma_sd_configs").foreach {
          case kc: YMap =>
            val server = kc.str("server").getOrElse("")
            if (server.isEmpty)
              errs += s"""$path: job "$job": empty xDS server URL"""
            else if (!server.matches("^https?://.*"))
              errs += s"""$path: job "$job": invalid xDS server URL protocol. must be either 'http' or 'https'"""
          case _ => ()
        }
        // oci: region + api_key credentials (ref: oci.go UnmarshalYAML)
        sc.list("oci_sd_configs").foreach {
          case oc: YMap =>
            if (oc.str("region").forall(_.isEmpty))
              errs += s"""$path: job "$job": oci_sd: region is required"""
            val auth = oc.str("auth").getOrElse("api_key")
            if (auth == "api_key")
              Seq("tenancy", "user", "fingerprint", "key_file").foreach { f =>
                if (oc.str(f).forall(_.isEmpty))
                  errs += s"""$path: job "$job": oci_sd: api_key auth requires $f"""
              }
          case _ => ()
        }
        // uyuni: server + username + password (ref: uyuni.go UnmarshalYAML)
        sc.list("uyuni_sd_configs").foreach {
          case uc: YMap =>
            if (uc.str("server").forall(_.isEmpty))
              errs += s"""$path: job "$job": Uyuni SD configuration requires server host"""
            if (uc.str("username").forall(_.isEmpty))
              errs += s"""$path: job "$job": Uyuni SD configuration requires a username"""
            if (uc.str("password").forall(_.isEmpty))
              errs += s"""$path: job "$job": Uyuni SD configuration requires a password"""
          case _ => ()
        }
        // outscale: region + access_key + secret (ref: outscale.go)
        sc.list("outscale_sd_configs").foreach {
          case oc: YMap =>
            if (oc.str("region").forall(_.isEmpty))
              errs += s"""$path: job "$job": outscale SD configuration requires a region"""
            if (oc.str("access_key").forall(_.isEmpty))
              errs += s"""$path: job "$job": outscale SD configuration requires access_key"""
            if (oc.str("secret_key").forall(_.isEmpty) &&
                oc.str("secret_key_file").forall(_.isEmpty))
              errs += s"""$path: job "$job": one of secret_key & secret_key_file must be configured"""
          case _ => ()
        }
        // stackit: endpoint or region required (ref: stackit.go)
        sc.list("stackit_sd_configs").foreach {
          case sk: YMap =>
            if (sk.str("endpoint").forall(_.isEmpty) &&
                sk.str("region").forall(_.isEmpty))
              errs += s"""$path: job "$job": stackit_sd: endpoint and region missing"""
          case _ => ()
        }
        // scaleway: role + project_id + secret + access_key required
        // (ref: scaleway.go UnmarshalYAML)
        sc.list("scaleway_sd_configs").foreach {
          case sw: YMap =>
            val role = sw.str("role").getOrElse("")
            if (role.isEmpty)
              errs += s"""$path: job "$job": role missing (one of: instance, baremetal)"""
            else if (role != "instance" && role != "baremetal")
              errs += s"""$path: job "$job": unknown role "$role""""
            if (sw.str("project_id").forall(_.isEmpty))
              errs += s"""$path: job "$job": project_id is mandatory"""
            val sk = sw.str("secret_key").exists(_.nonEmpty)
            val skf = sw.str("secret_key_file").exists(_.nonEmpty)
            if (!sk && !skf)
              errs += s"""$path: job "$job": one of secret_key & secret_key_file must be configured"""
            if (sk && skf)
              errs += s"""$path: job "$job": at most one of secret_key & secret_key_file must be configured"""
            if (sw.str("access_key").forall(_.isEmpty))
              errs += s"""$path: job "$job": access_key is mandatory"""
          case _ => ()
        }
        sc.list("gce_sd_configs").foreach {
          case gc: YMap =>
            if (gc.str("project").forall(_.isEmpty))
              errs += s"""$path: job "$job": GCE SD configuration requires a project"""
            if (gc.str("zone").forall(_.isEmpty))
              errs += s"""$path: job "$job": GCE SD configuration requires a zone"""
          case _ => ()
        }
        sc.list("azure_sd_configs").foreach {
          case ac: YMap =>
            if (ac.str("subscription_id").forall(_.isEmpty))
              errs += s"""$path: job "$job": Azure SD configuration requires a subscription_id"""
          case _ => ()
        }
        sc.list("docker_sd_configs").foreach {
          case dk: YMap =>
            val host = dk.str("host").getOrElse("")
            if (host.isEmpty)
              errs += s"""$path: job "$job": Docker SD configuration requires a host"""
            else if (!host.matches("^(tcp|http|https|unix)://.*"))
              errs += s"""$path: job "$job": Docker SD host "$host" must be a url"""
          case _ => ()
        }
        sc.list("dns_sd_configs").foreach {
          case dc: YMap =>
            if (dc.list("names").isEmpty)
              errs += s"""$path: job "$job": DNS-SD config must contain at least one SRV record name"""
            val rt = dc.str("type").getOrElse("SRV")
            if (!Set("SRV", "A", "AAAA", "MX", "NS")(rt))
              errs += s"""$path: job "$job": invalid DNS-SD records type $rt"""
            else if (rt != "SRV" && dc.str("port").forall(_.isEmpty))
              errs += s"""$path: job "$job": relevant DNS-SD configs require a port defined"""
          case _ => ()
        }
    }
    root.list("scrape_configs").foreach {
      case sc: YMap =>
        // every `*_sd_configs` mechanism is a known field (the reference has
        // ~25 providers; unimplemented providers' inner options are not
        // re-validated — matching promtool's no-network parse)
        errs ++= unknownKeys(sc, scrapeFields, s"$path scrape_config",
          alsoOk = _.endsWith("_sd_configs"))
        val jobName = sc.str("job_name").getOrElse("<no job_name>")
        checkSdConfigs(sc, jobName)
        checkTimeoutVsInterval(sc, jobName)
        // oauth2 shape + mutual exclusion with the fixed-header auth shapes
        // (ref: common HTTPClientConfig Validate — "at most one of
        // basic_auth, oauth2, bearer_token & bearer_token_file")
        sc.get("oauth2") match {
          case Some(o: YMap) =>
            errs ++= unknownKeys(o, oauth2Fields, s"""$path job "$jobName" oauth2""")
            graft.web.OAuth2.validate(Config.oauth2Of(o, p)).foreach(e =>
              errs += s"""$path: job "$jobName": $e""")
            if (sc.get("basic_auth").isDefined || sc.get("authorization").isDefined ||
                sc.str("bearer_token").exists(_.nonEmpty) ||
                sc.str("bearer_token_file").exists(_.nonEmpty))
              errs += s"""$path: job "$jobName": at most one of basic_auth, """ +
                "authorization, oauth2, bearer_token & bearer_token_file " +
                "must be configured"
          case _ => ()
        }
        if (sc.get("proxy_connect_header").isDefined)
          errs += s"""$path: job "$jobName": proxy_connect_header is not """ +
            "supported by this engine"
        // http_headers: reserved names rejected (ref prometheus/common
        // httpHeaders.Validate — the same protocol-header set as remote
        // sections), sub-fields limited to values/secrets/files
        sc.get("http_headers") match {
          case Some(hh: YMap) => hh.entries.foreach {
            case (name, spec) =>
              if (reservedHeaders(name.toLowerCase))
                errs += s"""$path: job "$jobName": setting header "$name" is not allowed"""
              spec match {
                case sm: YMap =>
                  errs ++= unknownKeys(sm, Set("values", "secrets", "files"),
                    s"""$path job "$jobName" http_headers $name""")
                case _ => ()
              }
          }
          case _ => ()
        }
        // scrape_protocols / fallback values must be known (ref:
        // config.go ScrapeProtocol.Validate)
        val known = ScrapeManager.protocolHeaders.keySet
        (sc.list("scrape_protocols").collect { case YScalar(s) => s } ++
          sc.str("fallback_scrape_protocol").filter(_.nonEmpty)).foreach { p =>
          if (!known(p))
            errs += s"""$path: job "$jobName": unknown scrape protocol $p, supported: """ +
              known.toSeq.sorted.mkString("[", ", ", "]")
        }
      case _ => errs += s"$path: bad scrape_config node"
    }
    // scrape_config_files: each globbed file gets the same strict per-job
    // validation; literal paths must exist; job_name must be unique across
    // the main file AND every included file (ref config.go
    // GetScrapeConfigs "found multiple scrape configs with job name")
    locally {
      val seenJobs = scala.collection.mutable.Set[String]()
      root.list("scrape_configs").foreach {
        case sc: YMap => sc.str("job_name").foreach { j =>
          if (!seenJobs.add(j))
            errs += s"$path: found multiple scrape configs with job name \"$j\""
        }
        case _ => ()
      }
      val cfgDir = Option(p.getParent).map(_.toString).getOrElse(".")
      root.list("scrape_config_files").collect { case YScalar(pat) => pat }
        .foreach { pat =>
          val files = Config.expandGlob(java.nio.file.Paths.get(cfgDir), pat)
          if (files.isEmpty && !pat.exists("*?[".contains(_)))
            errs += s"$path: scrape config file $pat: no such file or directory"
          files.foreach { f =>
            try {
              val sub = YamlLite.parse(new String(
                java.nio.file.Files.readAllBytes(
                  java.nio.file.Paths.get(f)), "UTF-8")) match {
                case mm: YMap => mm
                case _ => YMap(Nil)
              }
              errs ++= unknownKeys(sub, Set("scrape_configs"), f)
              sub.list("scrape_configs").foreach {
                case sc: YMap =>
                  errs ++= unknownKeys(sc, scrapeFields, s"$f scrape_config",
                    alsoOk = _.endsWith("_sd_configs"))
                  val j = sc.str("job_name").getOrElse("<no job_name>")
                  if (!seenJobs.add(j))
                    errs += s"$path: found multiple scrape configs with job name \"$j\""
                  checkSdConfigs(sc, j)
                  checkTimeoutVsInterval(sc, j)
                case _ => errs += s"$f: bad scrape_config node"
              }
            } catch { case e: Exception =>
              errs += s"$f: ${Option(e.getMessage).getOrElse(e.getClass.getName)}" }
          }
        }
    }
    // alerting: groups carry the same SD surface plus their own
    // relabel/alert_relabel configs (ref: config/config.go:1330
    // AlertmanagerConfig; api_version v1 is no longer supported)
    root.get("alerting") match {
      case Some(a: YMap) =>
        errs ++= unknownKeys(a, Set("alert_relabel_configs", "alertmanagers"),
          s"$path alerting")
        a.list("alertmanagers").zipWithIndex.foreach {
          case (m: YMap, i) =>
            errs ++= unknownKeys(m, alertmanagerFields,
              s"$path alertmanager config", alsoOk = _.endsWith("_sd_configs"))
            checkSdConfigs(m, s"alertmanager/$i")
            // per-group auth: oauth2/sigv4 shape validation + the
            // at-most-one rule (ref config.go:1410 — "at most one of
            // basic_auth, authorization, oauth2, & sigv4")
            m.get("oauth2") match {
              case Some(o: YMap) =>
                errs ++= unknownKeys(o, oauth2Fields, s"$path alertmanager config oauth2")
                graft.web.OAuth2.validate(Config.oauth2Of(o, p)).foreach(e =>
                  errs += s"$path: alertmanager config: $e")
              case _ => ()
            }
            m.get("sigv4") match {
              case Some(s4: YMap) =>
                errs ++= unknownKeys(s4, Set("region", "access_key",
                  "secret_key", "profile", "role_arn", "external_id",
                  "use_fips_sts_endpoint"), s"$path alertmanager config sigv4")
                if (s4.str("access_key").exists(_.nonEmpty) !=
                    s4.str("secret_key").exists(_.nonEmpty))
                  errs += s"$path: alertmanager config: must provide a AWS " +
                    "SigV4 Access key and Secret Key if credentials are " +
                    "specified in the SigV4 config"
              case _ => ()
            }
            val amAuth = Seq(
              "basic_auth" -> m.get("basic_auth").isDefined,
              "authorization" -> m.get("authorization").isDefined,
              "oauth2" -> m.get("oauth2").isDefined,
              "sigv4" -> m.get("sigv4").isDefined).collect { case (n, true) => n }
            if (amAuth.size > 1)
              errs += s"$path: alertmanager config: at most one of " +
                "basic_auth, authorization, oauth2, & sigv4 must be configured"
            val v = m.str("api_version").getOrElse("v2")
            if (v != "v2")
              errs += s"""$path: alertmanager config: invalid api_version "$v" (only "v2" is supported)"""
          case _ => errs += s"$path: bad alertmanager config node"
        }
      case _ => ()
    }
    // the config itself must parse into the serving model
    try Config.parse(text, Option(p.getParent).map(_.toString).getOrElse("."))
    catch { case e: Throwable => errs += s"$path: ${e.getMessage}" }
    // rule files must EXIST and load (promtool fails on missing globs'
    // literal paths; glob patterns may legitimately match nothing)
    val base = Option(p.getParent).map(_.toString).getOrElse(".")
    val lint = Seq.newBuilder[String]
    root.list("rule_files").collect { case YScalar(rf) => rf }.foreach { rf =>
      val isGlob = rf.exists(c => c == '*' || c == '?' || c == '[')
      val resolved =
        if (rf.startsWith("/")) Seq(rf)
        else Seq(java.nio.file.Paths.get(base).resolve(rf).toString)
      resolved.foreach { f =>
        if (!isGlob && !java.nio.file.Files.exists(java.nio.file.Paths.get(f)))
          errs += s"$f: no such file or directory"
        else if (!isGlob) {
          val (e2, l2, _) = checkRuleFile(f)
          errs ++= e2; lint ++= l2
        }
      }
    }
    val es = errs.result(); val ls = lint.result()
    if (es.nonEmpty) Result(1, es, ls)
    else if (ls.nonEmpty) Result(3, Nil, ls)
    else Result(0, Nil, Nil)
  }
}

/** CLI analog: `runMain graft.streaming.ConfigCheckMain [config|rules] <files...>` */
object WebConfigCheck {
  import graft.promqltest.YamlLite
  import graft.promqltest.YamlLite.{YMap, YScalar}

  private val clientAuthTypes = Set("", "NoClientCert", "RequestClientCert",
    "RequireAnyClientCert", "VerifyClientCertIfGiven",
    "RequireAndVerifyClientCert")
  private val tlsVersions = Set("", "TLS10", "TLS11", "TLS12", "TLS13")
  private val headerAllowlist = Set("Content-Security-Policy",
    "X-Frame-Options", "X-Content-Type-Options", "X-XSS-Protection",
    "Strict-Transport-Security")
  // $2a$/$2b$/$2y$ + 2-digit cost 04..31 + 53 chars of salt+digest
  private val bcryptRe = "^\\$2[aby]\\$(0[4-9]|[12][0-9]|3[01])\\$[./A-Za-z0-9]{53}$".r

  /** `promtool check web-config` analog (ref: exporter-toolkit
    * web.Validate): strict fields, TLS file pairing/readability,
    * client_auth_type and TLS version enums, security-header allowlist,
    * bcrypt-shaped basic_auth_users. Returns the error list (empty =
    * SUCCESS). */
  def check(path: String): Seq[String] = {
    val dir = java.nio.file.Paths.get(path).toAbsolutePath.getParent
    val text =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      catch { case e: Exception => return Seq(s"cannot read file: ${e.getMessage}") }
    val root =
      try YamlLite.parse(text) match {
        case m: YMap => m
        case _ => return Seq("expected a mapping at the top level")
      } catch {
        // a parse failure (or a YamlLite-unsupported key shape) is a
        // per-file FAILED line, never a crash
        case e: YamlLite.YamlError => return Seq(s"parse error: ${e.msg}")
      }
    val errs = scala.collection.mutable.ArrayBuffer[String]()
    // `section:` with a commented-out body unmarshals to a zero struct in
    // the reference (valid); YamlLite yields an empty scalar for it
    def section(k: String): Option[YamlLite.YNode] = root.get(k).map {
      case YScalar("") => YMap(Nil)
      case other => other
    }
    root.keys.filterNot(Set("tls_server_config", "http_server_config",
      "basic_auth_users")).foreach(k =>
      errs += s"field $k not found in type web.Config")

    def fileReadable(k: String, v: String): Unit = {
      val p = dir.resolve(v)
      if (!java.nio.file.Files.isReadable(p))
        errs += s"$k: could not read $v"
    }
    section("tls_server_config").foreach {
      case m: YMap =>
        m.keys.filterNot(Set("cert_file", "key_file", "client_auth_type",
          "client_ca_file", "min_version", "max_version", "cipher_suites",
          "curve_preferences", "prefer_server_cipher_suites",
          "client_allowed_sans")).foreach(k =>
          errs += s"tls_server_config: field $k not found in type web.TLSConfig")
        val cert = m.str("cert_file").getOrElse("")
        val key = m.str("key_file").getOrElse("")
        // ref: TLSConfig.Validate — a cert requires a key and vice versa
        if (cert.nonEmpty && key.isEmpty) errs += "missing key_file"
        if (key.nonEmpty && cert.isEmpty) errs += "missing cert_file"
        if (cert.nonEmpty) fileReadable("cert_file", cert)
        if (key.nonEmpty) fileReadable("key_file", key)
        m.str("client_ca_file").filter(_.nonEmpty)
          .foreach(fileReadable("client_ca_file", _))
        val cat = m.str("client_auth_type").getOrElse("")
        if (!clientAuthTypes(cat))
          errs += s"""invalid ClientAuth: "$cat""""
        if (m.str("client_ca_file").exists(_.nonEmpty) &&
            (cat == "" || cat == "NoClientCert"))
          errs += "Client CA's have been configured without a Client Auth Policy"
        Seq("min_version", "max_version").foreach { k =>
          val v = m.str(k).getOrElse("")
          if (!tlsVersions(v)) errs += s"unknown TLS version: $v"
        }
      case _ => errs += "tls_server_config: expected a mapping"
    }
    section("http_server_config").foreach {
      case m: YMap =>
        m.keys.filterNot(Set("http2", "headers")).foreach(k =>
          errs += s"http_server_config: field $k not found in type web.HTTPConfig")
        m.str("http2").foreach(v =>
          if (v != "true" && v != "false")
            errs += s"http2: cannot unmarshal $v into bool")
        m.get("headers").foreach {
          case h: YMap =>
            h.keys.filterNot(headerAllowlist).foreach(k =>
              errs += s"HTTP header \"$k\" cannot be configured")
            h.str("X-Frame-Options").foreach { v =>
              val lc = v.toLowerCase
              if (lc != "deny" && lc != "sameorigin")
                errs += s"""possible values for "X-Frame-Options" are "deny" and "sameorigin", got "$v""""
            }
            h.str("X-Content-Type-Options").foreach(v =>
              if (!v.equalsIgnoreCase("nosniff"))
                errs += s"""option for X-Content-Type-Options must be "nosniff", got "$v"""")
          case _ => errs += "headers: expected a mapping"
        }
      case _ => errs += "http_server_config: expected a mapping"
    }
    section("basic_auth_users").foreach {
      case m: YMap =>
        m.entries.foreach {
          case (user, YScalar(hash)) =>
            if (bcryptRe.findFirstIn(hash).isEmpty)
              errs += s"invalid bcrypt hash for user $user"
          case (user, _) => errs += s"invalid bcrypt hash for user $user"
        }
      case _ => errs += "basic_auth_users: expected a mapping"
    }
    errs.toSeq
  }
}

object ConfigCheckMain {
  def main(args: Array[String]): Unit = {
    val (mode, files) = args.toList match {
      case "rules" :: fs => ("rules", fs)
      case "config" :: fs => ("config", fs)
      case "web-config" :: fs => ("web-config", fs)
      case fs => ("config", fs)
    }
    if (mode == "web-config") {
      // ref: CheckWebConfig — per-file SUCCESS/FAILED, exit 1 on any failure
      var failed = false
      files.foreach { f =>
        val errs = WebConfigCheck.check(f)
        if (errs.isEmpty) System.err.println(s"$f SUCCESS")
        else { System.err.println(s"$f FAILED: ${errs.mkString("; ")}"); failed = true }
      }
      if (failed) sys.exit(1) else return
    }
    var worst = 0
    files.foreach { f =>
      val r = if (mode == "rules") ConfigCheck.checkRules(f) else ConfigCheck.checkConfig(f)
      val verdict =
        if (r.exitCode == 0) "SUCCESS"
        else if (r.exitCode == 3) "SUCCESS (with lint issues)"
        else "FAILED"
      println(s"Checking $f\n  $verdict")
      r.errors.foreach(e => println(s"  error: $e"))
      r.lintIssues.foreach(l => println(s"  lint: $l"))
      worst = math.max(worst, r.exitCode)
    }
    if (worst != 0) sys.exit(worst)
  }
}
