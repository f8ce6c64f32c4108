package graft.streaming

/** promtool `check config` / `check rules` analog (ref: cmd/promtool/
  * main.go:540 CheckConfig, :940 CheckRules, exit codes main.go:70
  * successExitCode=0 / failureExitCode=1 / lintErrExitCode=3).
  *
  * Both files go through the loader the server uses: the config through
  * [[Config.read]] (every error [[Config.parse]] throws, plus the
  * auth-shape conflicts the serving load tolerates), and each of its rule
  * files, like a `check rules` file, through [[Config.loadRuleGroups]].
  * On top sits promtool's lint: duplicate rules (same name + labels,
  * main.go:1006 checkDuplicates) → exit 3.
  */
object ConfigCheck {

  final case class Result(exitCode: Int, errors: Seq[String], lintIssues: Seq[String])

  private def result(errors: Seq[String], lint: Seq[String]): Result =
    if (errors.nonEmpty) Result(1, errors, lint)
    else if (lint.nonEmpty) Result(3, Nil, lint)
    else Result(0, Nil, Nil)

  /** promtool's duplicate-rule lint (main.go:1006 checkDuplicates): the
    * (name, labels) of rules that share both, across all groups of a file,
    * by name */
  def duplicates(groups: Seq[Rules.Group]): List[(String, Map[String, String])] =
    groups.flatMap(_.rules).groupBy(r => (r.name, r.labels)).collect {
      case (key, same) if same.size > 1 => key
    }.toList.sortBy(_._1)

  /** one rule file: (errors, duplicate-rule lint) */
  private def ruleFile(path: String, intervalMs: Long): (Seq[String], Seq[String]) =
    try (Nil, duplicates(Config.loadRuleGroups(path, intervalMs)).map {
      case (name, _) => s"$path: duplicate rule $name" })
    catch { case e: Config.ConfigError => (e.errors, Nil) }

  /** promtool `check rules <file>` */
  def checkRules(path: String): Result = {
    val (errors, lint) = ruleFile(path, 60000L)
    result(errors, lint)
  }

  /** promtool `check config <file>` */
  def checkConfig(path: String): Result = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p))
      return Result(1, Seq(s"$path: no such file or directory"), Nil)
    try {
      val (cfg, conflicts) = Config.read(
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"),
        Option(p.getParent).map(_.toString).getOrElse("."))
      val rules = cfg.ruleFiles.map(ruleFile(_, cfg.evaluationIntervalMs))
      result(conflicts.map(e => s"$path: $e") ++ rules.flatMap(_._1),
        rules.flatMap(_._2))
    } catch {
      case e: Config.ConfigError => Result(1, e.errors.map(e => s"$path: $e"), Nil)
      case e: Exception => Result(1, Seq(s"$path: ${Config.message(e)}"), Nil)
    }
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
