package graft.streaming

/** The `prometheus` binary analog (ref: cmd/prometheus/main.go flag surface
  * + run loop): boots a local Spark session, assembles [[PromServer]] from
  * --config.file, serves the HTTP API (TLS/auth via --web.config.file),
  * runs the scrape pools and a rule-evaluation loop at the config's
  * evaluation_interval, and blocks until SIGTERM/SIGINT (graceful stop).
  *
  * ```
  * sbt "runMain graft.streaming.ServerMain --config.file=prometheus.yml \
  *   --web.listen-address=:9090 --web.config.file=web.yml \
  *   --storage.path=data/ --agent"
  * ```
  */
object ServerMain {
  def main(args: Array[String]): Unit = {
    val flagPairs = args.toSeq.flatMap { a =>
      if (a.startsWith("--")) {
        val i = a.indexOf('=')
        if (i > 0) Some(a.substring(2, i) -> a.substring(i + 1))
        else Some(a.drop(2) -> "true")
      } else None
    }
    // last occurrence wins for single-valued flags, but repeatable flags
    // (--enable-feature, like the reference's kingpin Strings()) accumulate
    // across occurrences — comma-separated within one occurrence also works
    val repeatable = Set("enable-feature")
    val flags = flagPairs.filterNot(p => repeatable(p._1)).toMap ++
      repeatable.flatMap { k =>
        val vs = flagPairs.collect { case (`k`, v) => v }
        if (vs.isEmpty) None else Some(k -> vs.mkString(","))
      }
    def flag(k: String, dflt: String = ""): String = flags.getOrElse(k, dflt)

    val configFile = flag("config.file", "prometheus.yml")
    val listen = flag("web.listen-address", ":9090")
    val port = listen.substring(listen.lastIndexOf(':') + 1).toInt
    val agent = flags.contains("agent")
    val limits = graft.promql.QueryLimits(
      maxConcurrent = flag("query.max-concurrency", "20").toInt,
      maxSamples = flag("query.max-samples", "50000000").toLong,
      timeoutMs = graft.promqltest.TestScript.parseTime(flag("query.timeout", "2m")))

    val spark = graft.GraftSession(flag("spark.master", graft.GraftSession.localMaster),
      flag("log.level", graft.GraftSession.logLevel).toUpperCase)

    val features = flag("enable-feature").split(",").map(_.trim).toSet
    val server = new PromServer(spark, configFile, port,
      agentMode = agent, limits = limits,
      stZeroIngestion = features.contains("created-timestamp-zero-ingestion"),
      stSynthesis = features.contains("st-synthesis"),
      extraScrapeMetrics = features.contains("extra-scrape-metrics"),
      perStepStats = features.contains("promql-per-step-stats"),
      autoReloadMs =
        if (!flags.contains("config.auto-reload")) 0L
        else math.max(1000L, graft.promqltest.TestScript.parseTime(
          flag("config.auto-reload-interval", "30s"))),
      dataDir = Some(flag("storage.path", "data")),
      consoleTemplates = flags.get("web.console.templates"),
      consoleLibraries = flags.get("web.console.libraries"),
      externalUrl = flag("web.external-url"),
      webConfigFile = flags.get("web.config.file"))
    server.start()
    server.startScraping()

    // rule-evaluation loop at the config's evaluation_interval
    // (ref: rules/manager.go Group.run) — skipped in agent mode like the
    // reference (agent has no rule manager)
    val evalThread = new Thread(() => {
      while (!Thread.interrupted()) {
        val ms = server.config.map(_.evaluationIntervalMs).getOrElse(60000L)
        try server.evalRulesOnce(System.currentTimeMillis())
        catch { case e: Exception =>
          System.err.println(s"[graft-server] rule eval failed: ${e.getMessage}") }
        Thread.sleep(ms)
      }
    }, "rule-eval")
    evalThread.setDaemon(true)
    if (!agent) evalThread.start()

    val stopLatch = new java.util.concurrent.CountDownLatch(1)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      System.err.println("[graft-server] shutting down")
      try server.stop() catch { case _: Exception => () }
      stopLatch.countDown()
    }))
    System.err.println(
      s"[graft-server] listening on ${server.api.scheme}://0.0.0.0:${server.api.boundPort}" +
      (if (agent) " (agent mode)" else ""))
    stopLatch.await() // block until SIGTERM/SIGINT
  }
}
