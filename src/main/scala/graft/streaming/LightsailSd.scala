package graft.streaming

import graft.web.JsonLite
import SdJson._

/** AWS Lightsail service discovery (ref: discovery/aws/lightsail.go).
  *
  * One SigV4-signed JSON-1.1 `Lightsail_20161128.GetInstances` POST per
  * refresh (paginated via pageToken) — targets at private ip:port with the
  * `__meta_lightsail_*` labels; instances without a private IP are skipped
  * and every optional field omits its label when absent. Reuses
  * [[Ec2Sd.SigV4]] with the lightsail service name and a signed
  * x-amz-target header. */
object LightsailSd {

  /** lightsail_sd_configs entry (ref: lightsail.go LightsailSDConfig;
    * port 80, refresh 60s; empty region resolves at runtime like EC2) */
  final case class Config(
      region: String,
      accessKey: String = "",
      secretKey: String = "",
      endpoint: String = "",
      roleArn: String = "", // STS AssumeRole (ref #18579)
      externalId: String = "",
      profile: String = "", // shared-credentials-file profile
      port: Int = 80,
      refreshMs: Long = 60000L)

  /** injectable transport; posts one GetInstances body, returns JSON */
  trait ApiClient { def getInstances(pageToken: Option[String]): String }

  final class HttpApiClient(cfg: Config) extends ApiClient {
    private val (host, base) =
      AwsSd.endpointOf(cfg.endpoint, s"lightsail.${cfg.region}.amazonaws.com")
    private val credsProvider = AwsSd.credentials(cfg.accessKey,
      cfg.secretKey, cfg.roleArn, cfg.externalId, cfg.region, profile = cfg.profile)
    override def getInstances(pageToken: Option[String]): String = {
      val body = pageToken
        .map(t => s"""{"pageToken":"${graft.web.Json.escape(t)}"}""")
        .getOrElse("{}")
      AwsSd.post("lightsail", base, body, Ec2Sd.SigV4.headers(credsProvider.creds(),
        cfg.region, "lightsail", host, body, java.time.Instant.now(),
        contentType = "application/x-amz-json-1.1",
        extraSigned = Map("x-amz-target" -> "Lightsail_20161128.GetInstances")))
    }
  }

  final class LightsailProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs
    override def refresh(): Seq[Discovery.TargetGroup] = {
      val targets = Seq.newBuilder[(String, Map[String, String])]
      var token: Option[String] = None
      var more = true
      while (more) {
        val body = map(JsonLite.parse(client.getInstances(token)))
        list(body, "instances").foreach { inst =>
          val priv = str(inst, "privateIpAddress")
          if (priv.nonEmpty) {
            var l = Map(
              "__meta_lightsail_private_ip" -> priv,
              "__meta_lightsail_region" -> cfg.region)
            val az = str(map(inst, "location"), "availabilityZone")
            if (az.nonEmpty) l += "__meta_lightsail_availability_zone" -> az
            def opt(key: String, label: String): Unit = {
              val v = str(inst, key); if (v.nonEmpty) l += label -> v
            }
            opt("blueprintId", "__meta_lightsail_blueprint_id")
            opt("bundleId", "__meta_lightsail_bundle_id")
            opt("name", "__meta_lightsail_instance_name")
            opt("supportCode", "__meta_lightsail_instance_support_code")
            opt("publicIpAddress", "__meta_lightsail_public_ip")
            val state = str(map(inst, "state"), "name")
            if (state.nonEmpty) l += "__meta_lightsail_instance_state" -> state
            val v6 = strs(inst, "ipv6Addresses")
            if (v6.nonEmpty)
              l += "__meta_lightsail_ipv6_addresses" -> v6.mkString(",", ",", ",")
            list(inst, "tags").foreach { t =>
              val k = str(t, "key"); val v = str(t, "value")
              if (k.nonEmpty && v.nonEmpty)
                l += "__meta_lightsail_tag_" + KubernetesSd.sanitize(k) -> v
            }
            targets += ((s"$priv:${cfg.port}", l))
          }
        }
        token = Some(str(body, "nextPageToken")).filter(_.nonEmpty)
        more = token.isDefined
      }
      Seq(Discovery.TargetGroup(cfg.region, Map.empty, targets.result()))
    }
  }
}
