package graft.streaming

import graft.web.JsonLite
import SdJson._

/** Oracle Cloud Infrastructure service discovery (ref: discovery/oci/
  * oci.go).
  *
  * Per refresh: the compartment list (configured explicitly, or every
  * ACTIVE compartment under the tenancy root via the Identity API), then
  * per compartment a paginated instance LIST; each instance resolves its
  * PRIMARY VNIC (attachments walked until the primary is found — OCI has
  * no batch VNIC fetch) for the address: private ip, else public, else the
  * first sorted IPv6. Freeform tags label directly; defined tags flatten
  * as namespace_key with scalar values stringified (non-scalars skipped).
  * Instances with no usable IP are skipped. The production transport signs
  * requests with OCI's draft-cavage RSA-SHA256 HTTP signature
  * (keyId = tenancy/user/fingerprint over "date (request-target) host"). */
object OciSd {

  /** oci_sd_configs entry (ref: oci.go SDConfig; port 80, refresh 60s,
    * auth api_key) */
  final case class Config(
      region: String,
      tenancy: String = "",
      user: String = "",
      fingerprint: String = "",
      keyFile: String = "",
      compartments: Seq[String] = Nil, // empty = auto-discover
      port: Int = 80,
      refreshMs: Long = 60000L)

  /** injectable transport: GETs against the identity ("identity") or
    * compute ("iaas") service host; `path` includes the query */
  trait ApiClient { def get(service: String, path: String): String }

  final class HttpApiClient(cfg: Config) extends ApiClient {
    private lazy val privateKey: java.security.PrivateKey = {
      val pem = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(cfg.keyFile)),
        java.nio.charset.StandardCharsets.UTF_8)
      val der = java.util.Base64.getMimeDecoder.decode(
        pem.replaceAll("-----[A-Z ]+-----", "").trim)
      java.security.KeyFactory.getInstance("RSA")
        .generatePrivate(new java.security.spec.PKCS8EncodedKeySpec(der))
    }
    override def get(service: String, path: String): String = {
      val h = s"$service.${cfg.region}.oraclecloud.com"
      val date = java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME
        .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())
      // draft-cavage signing string over date, (request-target), host
      val signingString =
        s"date: $date\n(request-target): get $path\nhost: $h"
      val sig = java.security.Signature.getInstance("SHA256withRSA")
      sig.initSign(privateKey)
      sig.update(signingString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val signature = java.util.Base64.getEncoder.encodeToString(sig.sign())
      val keyId = s"${cfg.tenancy}/${cfg.user}/${cfg.fingerprint}"
      SdHttp.get("oci", s"https://$h$path", Seq(
        "Date" -> date,
        "Authorization" -> ("Signature version=\"1\",keyId=\"" + keyId + "\"," +
          "algorithm=\"rsa-sha256\",headers=\"date (request-target) host\"," +
          "signature=\"" + signature + "\"")))
    }
  }

  /** scalar defined-tag values stringify; non-scalars are skipped
    * (ref oci.go stringifyDefinedTag) */
  private def definedTagValue(v: Any): Option[String] = v match {
    case _: String | _: java.lang.Boolean | _: java.lang.Double => Some(str(v))
    case _ => None
  }

  final class OciProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs

    private def compartments(): Seq[String] =
      if (cfg.compartments.nonEmpty) cfg.compartments
      else list(JsonLite.parse(client.get("identity",
          s"/20160918/compartments?compartmentId=${cfg.tenancy}" +
            "&compartmentIdInSubtree=true&lifecycleState=ACTIVE")))
        .map(str(_, "id")).filter(_.nonEmpty)

    /** primary VNIC via attachments (ref oci.go resolveVnics) */
    private def primaryVnic(compartment: String, instanceId: String): Option[J] = {
      val atts = list(JsonLite.parse(client.get("iaas",
        s"/20160918/vnicAttachments?compartmentId=$compartment&instanceId=$instanceId")))
      atts.iterator
        .filter(a => str(a, "vnicId").nonEmpty && str(a, "lifecycleState") == "ATTACHED")
        .map(a => map(JsonLite.parse(client.get("iaas",
          s"/20160918/vnics/${str(a, "vnicId")}"))))
        .find(bool(_, "isPrimary"))
    }

    override def refresh(): Seq[Discovery.TargetGroup] = {
      val targets = Seq.newBuilder[(String, Map[String, String])]
      compartments().foreach { comp =>
        list(JsonLite.parse(client.get("iaas",
            s"/20160918/instances?compartmentId=$comp"))).foreach { inst =>
          val id = str(inst, "id")
          if (id.nonEmpty) {
            primaryVnic(comp, id).foreach { vnic =>
              val priv = str(vnic, "privateIp"); val pub = str(vnic, "publicIp")
              val ipv6 = strs(vnic, "ipv6Addresses").sorted
              val addr =
                if (priv.nonEmpty) priv
                else if (pub.nonEmpty) pub
                else ipv6.headOption.getOrElse("")
              if (addr.nonEmpty) {
                var l = Map(
                  "__meta_oci_instance_id" -> id,
                  "__meta_oci_instance_name" -> str(inst, "displayName"),
                  "__meta_oci_instance_state" -> str(inst, "lifecycleState"),
                  "__meta_oci_instance_shape" -> str(inst, "shape"),
                  "__meta_oci_availability_domain" -> str(inst, "availabilityDomain"),
                  "__meta_oci_fault_domain" -> str(inst, "faultDomain"),
                  "__meta_oci_region" -> str(inst, "region"),
                  "__meta_oci_tenancy_id" -> cfg.tenancy,
                  "__meta_oci_compartment_id" -> str(inst, "compartmentId"),
                  "__meta_oci_image_id" -> str(inst, "imageId"),
                  "__meta_oci_vnic_id" -> str(vnic, "id"),
                  "__meta_oci_private_ip" -> priv,
                  "__meta_oci_public_ip" -> pub,
                  "__meta_oci_hostname_label" -> str(vnic, "hostnameLabel"),
                  "__meta_oci_ipv6_addresses" ->
                    (if (ipv6.isEmpty) "" else ipv6.mkString(",", ",", ",")))
                map(inst, "freeformTags").foreach { case (k, v) =>
                  l += "__meta_oci_tag_" + KubernetesSd.sanitize(k) -> str(v) }
                map(inst, "definedTags").foreach { case (ns, tags) =>
                  map(tags).foreach { case (k, v) =>
                    definedTagValue(v).foreach(sv =>
                      l += "__meta_oci_defined_tag_" + KubernetesSd.sanitize(ns) +
                        "_" + KubernetesSd.sanitize(k) -> sv)
                  }
                }
                val hp = if (addr.contains(":")) s"[$addr]:${cfg.port}"
                  else s"$addr:${cfg.port}"
                targets += ((hp, l))
              }
            }
          }
        }
      }
      Seq(Discovery.TargetGroup("OCI", Map.empty, targets.result()))
    }
  }
}
