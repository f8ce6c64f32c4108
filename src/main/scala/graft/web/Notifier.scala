package graft.web

import graft.streaming.{Relabel, Rules}

object Notifier {
  /** one `alerting.alertmanagers` group at send time: a live supplier of
    * full push URLs (SD-discovered + relabeled, see
    * [[graft.streaming.Discovery.alertmanagerEndpoints]]) plus the group's
    * own alert_relabel_configs (ref: notifier/alertmanagerset.go:139 —
    * applied per-set with empty external labels). */
  final case class AmSet(
      endpoints: () => Seq[String],
      alertRelabel: Seq[Relabel.Rule] = Nil,
      timeoutMs: Long = 10000L,
      // the group's HTTP client config (ref notifier/alertmanagerset.go:45-60
      // — the AM group's HTTPClientConfig: transport, headers, auth incl.
      // oauth2) …
      clientCfg: graft.streaming.Config.HttpClientCfg =
        graft.streaming.Config.HttpClientCfg(),
      // … plus SigV4 request signing (alertmanagerset.go:58 — Amazon Managed
      // Prometheus alertmanager endpoints): a supplier of resolved
      // (credentials, region), signed per request over the JSON body
      sigv4: Option[() => (graft.streaming.AwsSd.Creds, String)] = None)

  private val sendLoops =
    scala.collection.concurrent.TrieMap[String, SendLoop]()

  /** Per-Alertmanager asynchronous send loop (ref: notifier/sendloop.go):
    * a bounded queue — the OLDEST alerts are dropped when capacity is
    * exceeded (sendloop.go:96) — drained by one worker thread in batches of
    * at most `maxBatchSize` (ref manager.go:37 DefaultMaxBatchSize=256).
    * Rule evaluation therefore never blocks on a slow or down AM; a full
    * queue degrades by shedding the stalest notifications first. */
  final class SendLoop(val url: String, post: String => Boolean,
      queueCapacity: Int = 10000, maxBatchSize: Int = 256) {
    private val queue = new scala.collection.mutable.ArrayDeque[String]()
    private var stopped = false
    @volatile var droppedTotal: Long = 0L
    @volatile var sentTotal: Long = 0L

    private val worker = new Thread(() => {
      var done = false
      while (!done) {
        val batch = synchronized {
          while (queue.isEmpty && !stopped) wait()
          if (queue.isEmpty && stopped) null
          else {
            val n = math.min(queue.length, maxBatchSize)
            (0 until n).map(_ => queue.removeHead())
          }
        }
        if (batch == null) done = true
        else if (post(Json.arr(batch))) sentTotal += batch.size
        else droppedTotal += batch.size // failed batch is not retried (ref)
      }
    }, s"graft-notifier-$url")
    worker.setDaemon(true)
    worker.start()

    /** enqueue pre-rendered alert JSON objects; never blocks */
    def add(alertJsons: Seq[String]): Unit = synchronized {
      if (stopped) return
      var as = alertJsons
      if (as.length > queueCapacity) { // batch alone exceeds capacity
        droppedTotal += as.length - queueCapacity
        as = as.takeRight(queueCapacity)
      }
      val over = queue.length + as.length - queueCapacity
      if (over > 0) { // queue full: evict oldest in favor of newer
        droppedTotal += over
        (0 until over).foreach(_ => queue.removeHead())
      }
      queue ++= as
      notifyAll()
    }

    def queueLen: Int = synchronized(queue.length)

    /** stop the worker; drain=true sends what is queued first */
    def stop(drain: Boolean = true): Unit = {
      synchronized {
        if (!drain) { droppedTotal += queue.length; queue.clear() }
        stopped = true
        notifyAll()
      }
      worker.join(30000)
    }
  }
}

/** Alertmanager notification sink: POST firing alerts as the v2 JSON array
  * to every configured Alertmanager (ref: notifier/notifier.go sendAll,
  * payload shape notifier/alertmanager.go — [{labels, annotations,
  * startsAt, endsAt, generatorURL}]).
  *
  * Before any send, external labels fill in absent alert labels and the
  * alerting-level alert_relabel_configs rewrite or drop alerts (ref:
  * notifier/manager.go:270 + notifier/alert.go:71 relabelAlerts); each
  * [[Notifier.AmSet]] then applies its own group-level
  * alert_relabel_configs to its copy of the batch.
  *
  * Stateless fan-out over static URLs + per-set discovered endpoints; send
  * failures to one AM do not block the others (the reference's per-AM queue
  * semantics collapse to best-effort synchronous sends at this seam).
  * Driver-side by design: alert cardinality, not sample cardinality.
  */
final class Notifier(
    alertmanagerUrls: Seq[String],
    externalUrl: String = "http://localhost:9090",
    externalLabels: Map[String, String] = Map.empty,
    alertRelabel: Seq[Relabel.Rule] = Nil,
    sets: Seq[Notifier.AmSet] = Nil,
    // async=true queues per AM on a [[Notifier.SendLoop]] so callers (the
    // rules tick) never block on a slow AM; false posts synchronously and
    // reports per-destination success (the spec-friendly mode)
    async: Boolean = false,
    queueCapacity: Int = 10000) {

  // one sender per set (its client and token cache span sends); the
  // static-URL list uses the default config
  private lazy val staticSender =
    new OutboundHttp.Sender(graft.streaming.Config.HttpClientCfg())
  private val setSenders = sets.map(s => new OutboundHttp.Sender(s.clientCfg))

  // per-AM send loops, shared process-wide so a config reload "transfers"
  // a live queue to the new Notifier instance instead of dropping it
  // (ref: notifier/manager.go:166 sendLoops transfer on ApplyConfig)
  private def loopFor(url: String, timeoutMs: Long, sender: OutboundHttp.Sender,
      sigv4: Option[() => (graft.streaming.AwsSd.Creds, String)])
      : Notifier.SendLoop =
    Notifier.sendLoops.getOrElseUpdate(url,
      new Notifier.SendLoop(url,
        body => post(url, body, timeoutMs, sender, sigv4), queueCapacity))

  final case class Alert(
      labels: Map[String, String],
      annotations: Map[String, String] = Map.empty,
      startsAtMs: Long,
      endsAtMs: Long = 0L)

  private def rfc3339(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).toString

  private def alertJson(a: Alert): String = {
    val ends =
      if (a.endsAtMs > 0L) Json.str(rfc3339(a.endsAtMs))
      else Json.str(rfc3339(0L)) // zero time = open-ended, AM applies resolve_timeout
    Json.obj(
      "labels" -> Json.metric(a.labels),
      "annotations" -> Json.metric(a.annotations),
      "startsAt" -> Json.str(rfc3339(a.startsAtMs)),
      "endsAt" -> ends,
      "generatorURL" -> Json.str(
        externalUrl + "/graph?g0.expr=" + java.net.URLEncoder.encode(
          a.labels.getOrElse("alertname", ""), "UTF-8")))
  }

  /** ref: notifier/alert.go:71 relabelAlerts — external labels only where
    * the alert lacks the name, then the relabel chain; !keep drops the alert */
  private def relabelAlerts(as: Seq[Alert], ext: Map[String, String],
      rules: Seq[Relabel.Rule]): Seq[Alert] =
    as.flatMap { a =>
      val merged = ext ++ a.labels
      if (rules.isEmpty) Some(if (ext.isEmpty) a else a.copy(labels = merged))
      else Relabel.applyToMap(merged, rules).map(l => a.copy(labels = l))
    }

  private def post(url: String, body: String, timeoutMs: Long,
      sender: OutboundHttp.Sender,
      sigv4: Option[() => (graft.streaming.AwsSd.Creds, String)]): Boolean =
    try {
      val signed = sigv4.fold(Map.empty[String, String]) { sup =>
        val (creds, region) = sup()
        val uri = java.net.URI.create(url)
        RemoteWriteForwarder.SigV4Signer(creds, region, uri.getAuthority,
          uri.getRawPath).headers(body.getBytes("UTF-8"), "application/json")
      }
      val rb = sender.decorate(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .timeout(java.time.Duration.ofMillis(timeoutMs)), signed = signed)
        .setHeader("Content-Type", "application/json")
      val resp = sender.client.send(
        rb.POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      resp.statusCode() / 100 == 2
    } catch { case _: Exception => false }

  /** send one batch; returns per-destination success flags (static URLs
    * first, then each set's discovered endpoints in order). A destination
    * whose batch relabeled down to empty counts as success (nothing owed);
    * in async mode "success" means accepted onto the AM's queue. */
  def send(alerts: Seq[Alert]): Seq[Boolean] = {
    if (alerts.isEmpty) return alertmanagerUrls.map(_ => true)
    val ga = relabelAlerts(alerts, externalLabels, alertRelabel)
    def deliver(url: String, jsons: Seq[String], timeoutMs: Long,
        sender: OutboundHttp.Sender,
        sigv4: Option[() => (graft.streaming.AwsSd.Creds, String)]): Boolean =
      if (jsons.isEmpty) true
      else if (async) { loopFor(url, timeoutMs, sender, sigv4).add(jsons); true }
      else post(url, Json.arr(jsons), timeoutMs, sender, sigv4)
    val gaJsons = ga.map(alertJson)
    alertmanagerUrls.map { base =>
      deliver(base.stripSuffix("/") + "/api/v2/alerts", gaJsons, 10000L,
        staticSender, None)
    } ++ sets.zip(setSenders).flatMap { case (s, sender) =>
      val saJsons = relabelAlerts(ga, Map.empty, s.alertRelabel).map(alertJson)
      s.endpoints().map(u => deliver(u, saJsons, s.timeoutMs, sender, s.sigv4))
    }
  }

  /** stop this notifier's live send loops (process-wide map: only loops for
    * URLs this instance has touched are unaffected elsewhere; drain=true
    * posts what is queued first — ref main.go
    * --alertmanager.drain-notification-queue-on-shutdown default). */
  def stop(drain: Boolean = true): Unit =
    Notifier.sendLoops.keys.foreach(k =>
      Notifier.sendLoops.remove(k).foreach(_.stop(drain)))

  /** bridge from a rules-engine alert state map: every firing entry becomes
    * a notification (ref: rules/alerting.go sendAlerts — only alerts past
    * `for:`are sent; pending are not) */
  def sendFromState(rule: Rules.AlertingRule,
      state: Map[String, Rules.AlertState], nowMs: Long): Seq[Boolean] = {
    val firing = state.values.filter(_.firingSinceMs >= 0L).toSeq
    send(firing.map { st =>
      Alert(
        labels = st.labels,
        // per-instance template-expanded annotations when the evaluation
        // produced them (ref: rules/alerting.go sends expanded annotations)
        annotations = if (st.annotations.nonEmpty) st.annotations else rule.annotations,
        startsAtMs = if (st.firingSinceMs >= 0L) st.firingSinceMs else nowMs)
    })
  }
}
