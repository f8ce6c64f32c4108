package graft.web

import org.apache.spark.sql.Row
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** retryable HTTP status (5xx or 429); `retryAfterMs` carries the server's
  * Retry-After hint (capped at 10 s so a hostile header can't wedge a send) */
private final class RetryableStatus(status: Int, val retryAfterMs: Long)
  extends RuntimeException(s"HTTP $status")

object RemoteWriteForwarder {
  /** per-request signer (the signature covers the per-batch body and a
    * fresh timestamp, so it cannot be a fixed header) */
  trait Signer {
    def headers(body: Array[Byte], contentType: String): Map[String, String]
  }

  /** AWS SigV4 for Amazon Managed Prometheus sinks, service "aps" (ref:
    * storage/remote/client.go:199 NewSigV4RoundTripper). Credentials are a
    * RESOLVED triple — the driver runs the static/profile/STS-AssumeRole
    * chain once per forward() call (tokens outlive a batch by construction,
    * same contract as the azuread provider), and each batch is signed. */
  final case class SigV4Signer(creds: graft.streaming.AwsSd.Creds,
      region: String, host: String, path: String,
      service: String = "aps") extends Signer {
    override def headers(body: Array[Byte], contentType: String): Map[String, String] = {
      import graft.streaming.Ec2Sd.SigV4
      val extra =
        if (creds.sessionToken.isEmpty) Map.empty[String, String]
        else Map("X-Amz-Security-Token" -> creds.sessionToken)
      SigV4.headersForPayload(creds.accessKey, creds.secretKey, region,
        service, host, "POST", if (path.isEmpty) "/" else path, "",
        SigV4.payloadHash(body), java.time.Instant.now(), contentType, extra)
    }
  }
}

/** Remote-write FORWARDING: ship samples the driver holds to a downstream
  * PRW receiver (ref: storage/remote/queue_manager.go — the sending half of
  * remote storage, which sends from the process that appended).
  *
  * The rows are cut into batches of `maxBatch` samples, sent from the
  * driver with at most `maxShards` requests in flight (the reference's
  * shards), each with bounded retry/backoff. PRW 1.0 carries floats only
  * (encodeV1 has no histogram payload), so histogram rows are left out.
  *
  * queue_config mapping (ref config.go:1612 QueueConfig):
  * `max_samples_per_send` → maxBatch; `min_backoff`/`max_backoff` → the
  * retry backoff ramp; `retry_on_http_429` → whether 429 is recoverable
  * (ref client.go:322 — default NOT retried, like the reference);
  * `sample_age_limit` → a predicate dropping too-old rows before send
  * (ref queue_manager.go isSampleOld filtering); `max_shards` → the cap on
  * requests in flight (default 50, as in the reference). `capacity`,
  * `min_shards` and `batch_send_deadline` are queue-manager pacing knobs
  * with no analog here — parsed and validated, intentionally inert. */
final class RemoteWriteForwarder(
    endpoint: String,
    maxBatch: Int = 5000,
    maxRetries: Int = 3,
    backoffMs: Long = 100L,
    protoVersion: Int = 1,
    // remote-write-only dynamic auth (azuread / google_iam bearer tokens);
    // wins over the client config's oauth2 / rendered header. Auth is
    // resolved ONCE per forward() call — tokens outlive a batch by
    // construction (providers refresh inside their 5-minute expiry window)
    authProvider: Option[() => String] = None,
    // per-request body signer (sigv4): built ONCE per forward() call
    // (resolving the credential chain), applied per batch. Mutually
    // exclusive with the auth shapes above (checker).
    signerProvider: Option[() => RemoteWriteForwarder.Signer] = None,
    // queue_config knobs — see class scaladoc for the mapping
    maxBackoffMs: Long = 5000L,
    retryOn429: Boolean = false,
    sampleAgeLimitMs: Long = 0L,
    maxShards: Int = 50,
    // remote_timeout (ref config.go DefaultRemoteWriteConfig 30s): a
    // wedged sink fails the request instead of hanging the send
    remoteTimeoutMs: Long = 30000L,
    // send_native_histograms (ref config.go RemoteWriteConfig — upstream
    // default FALSE; Config passes the parsed value, direct constructor
    // callers default to sending since only v2 encodes them anyway)
    sendNativeHistograms: Boolean = true,
    // metadata_config.send: PRW 2.0 carries metadata INLINE on each
    // TimeSeries (type/help/unit refs into the symbol table), so the
    // supplier — family-cardinality, evaluated once per forward() — rides
    // the batch encode; the 1.0 separate-RPC metadata path
    // is not implemented (documented divergence)
    metadataProvider: Option[() => RemoteWrite.Meta] = None,
    // the remote_write HTTP client config (ref config.go:221
    // DefaultRemoteWriteHTTPClientConfig: redirects followed, HTTP/2 OFF).
    // Its custom headers go first and the PROTOCOL headers last, so those
    // always win a same-name collision (the reference rejects reserved
    // names at config load — see Config — and this ordering is the
    // runtime backstop)
    clientCfg: graft.streaming.Config.HttpClientCfg =
      graft.streaming.Config.HttpClientCfg(enableHttp2 = false),
    nowMs: () => Long = () => System.currentTimeMillis()) {

  private lazy val client = OutboundHttp.client(clientCfg)
  private lazy val authorization = OutboundHttp.authorization(clientCfg)

  /** forward rows in [[graft.promql.Engine.samplesSchema]]'s column order
    * (later columns are not read), staleness markers left out; v2
    * endpoints also carry NATIVE HISTOGRAMS (PRW 1.0 send stays
    * float-only). Returns the count shipped; a batch that still fails after
    * its retries throws from here. */
  def forward(rows: Iterable[Row]): Long = {
    val v2 = protoVersion >= 2
    val withHist = v2 && sendNativeHistograms
    // sample_age_limit: rows older than the limit are dropped before the
    // send, never retried into a dead sink (ref queue_manager.go
    // sample_age_limit filtering, #13002)
    val minT = if (sampleAgeLimitMs > 0) nowMs() - sampleAgeLimitMs else Long.MinValue
    val samples = rows.iterator
      .filter(r => !r.isNullAt(3) && !r.getBoolean(3) && r.getLong(1) >= minT &&
        (withHist || r.isNullAt(4)))
      .map(r => RemoteWrite.Sample(r.getMap[String, String](0).toMap, r.getLong(1),
        r.getDouble(2), h = Option(r.getStruct(4)).map(graft.promql.FHist.fromRow)))
      .grouped(maxBatch).toVector
    val auth = authProvider.map(p => p()).orElse(authorization())
    val signer = signerProvider.map(p => p())
    val meta: RemoteWrite.Meta =
      if (v2) metadataProvider.map(p => p()).getOrElse(Map.empty) else Map.empty
    val contentType =
      if (v2) "application/x-protobuf;proto=io.prometheus.write.v2.Request"
      else "application/x-protobuf"
    val maxBo = math.max(maxBackoffMs, backoffMs)
    def send(batch: Seq[RemoteWrite.Sample]): Unit = {
      val body = if (v2) RemoteWrite.encodeV2(batch, meta) else RemoteWrite.encodeV1(batch)
      var attempt = 0
      var done = false
      while (!done && attempt <= maxRetries) {
        try {
          // sigv4: signature over THIS body at THIS instant (host and
          // content-type join the signed set)
          val rb = OutboundHttp.decorate(
            java.net.http.HttpRequest.newBuilder(java.net.URI.create(endpoint))
              .timeout(java.time.Duration.ofMillis(remoteTimeoutMs)),
            clientCfg.headers, auth,
            signer.fold(Map.empty[String, String])(_.headers(body, contentType)))
          // protocol headers after the decoration: setHeader wins
          val resp = client.send(
            rb.setHeader("Content-Encoding", "snappy")
              .setHeader("Content-Type", contentType)
              .setHeader("X-Prometheus-Remote-Write-Version", if (v2) "2.0.0" else "0.1.0")
              .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body))
              .build(),
            java.net.http.HttpResponse.BodyHandlers.discarding())
          // 2xx done; ONLY 5xx (and 429 when retry_on_http_429 is set,
          // honoring Retry-After) is recoverable — 3xx/4xx drop the
          // batch like the reference's unrecoverable errors (ref:
          // storage/remote/client.go:322)
          val sc = resp.statusCode()
          if (sc / 100 == 2 || !(sc / 100 == 5 || (sc == 429 && retryOn429)))
            done = true
          else {
            val retryAfterMs = resp.headers().firstValue("Retry-After")
              .map[Long](v => try math.min(v.trim.toLong, 10L) * 1000L
                catch { case _: NumberFormatException => 0L })
              .orElse(0L)
            throw new RetryableStatus(sc, retryAfterMs)
          }
        } catch {
          case e: Exception =>
            attempt += 1
            if (attempt > maxRetries) throw new RuntimeException(
              s"remote write forward failed after $maxRetries retries: ${e.getMessage}")
            val hinted = e match {
              case rs: RetryableStatus => rs.retryAfterMs
              case _ => 0L
            }
            // min_backoff · attempt, capped at max_backoff (the
            // reference ramps exponentially toward the same cap)
            Thread.sleep(math.max(math.min(backoffMs * attempt, maxBo), hinted))
        }
      }
    }
    val shards = math.min(samples.size, maxShards)
    if (shards <= 1) samples.foreach(send)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(shards)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.traverse(samples)(b => Future(send(b))), Duration.Inf)
      finally pool.shutdownNow()
    }
    samples.iterator.map(_.size.toLong).sum
  }
}
