package graft.streaming

import graft.web.{AzureAd, JsonLite}
import SdJson._

/** Azure service discovery (ref: discovery/azure/azure.go).
  *
  * Poll-based like the other cloud providers: each refresh LISTs the
  * subscription's virtual machines
  * (`/subscriptions/{sub}/providers/Microsoft.Compute/virtualMachines`)
  * and resolves each VM's primary network interface for its private/public
  * IPs, building the reference's `__meta_azure_*` labels. The production
  * client authenticates with an OAuth2 client-credentials token against
  * login.microsoftonline.com (the SDK default the reference wires); tests
  * inject a fake transport returning canned ARM JSON — the seam azure.go's
  * own tests mock at the client interface. */
object AzureSd {

  /** azure_sd_configs entry (ref: azure.go SDConfig; defaults port 80,
    * refresh 300s) */
  final case class Config(
      subscriptionId: String,
      tenantId: String = "",
      clientId: String = "",
      clientSecret: String = "",
      port: Int = 80,
      resourceGroup: String = "", // empty = whole subscription
      refreshMs: Long = 300000L)

  /** injectable ARM transport: GET a resource path (with api-version),
    * return the JSON body */
  trait ApiClient { def get(path: String): String }

  /** ARM over the shared SD transport; the client-credentials token comes
    * from [[graft.web.AzureAd.TokenProvider]], which checks the token
    * endpoint's status and caches until 5 minutes before `expires_in`.
    * `authorityOverride`/`armBase` point both at fake endpoints in tests. */
  final class HttpApiClient(cfg: Config, authorityOverride: Option[String] = None,
      armBase: String = "https://management.azure.com") extends ApiClient {
    private val tokens = new AzureAd.TokenProvider(AzureAd.Config(
      scope = "https://management.azure.com/.default",
      oauth = Some(AzureAd.OAuth(cfg.clientId, cfg.clientSecret, cfg.tenantId))),
      authorityOverride, client = SdHttp.client)
    override def get(path: String): String =
      SdHttp.get("azure", armBase + path, SdHttp.bearer(tokens.token()))
  }

  /** resource group from an ARM id:
    * /subscriptions/x/resourceGroups/RG/providers/... */
  private[streaming] def resourceGroupOf(id: String): String = {
    val parts = id.split("/")
    val i = parts.indexWhere(_.equalsIgnoreCase("resourceGroups"))
    if (i >= 0 && i + 1 < parts.length) parts(i + 1) else ""
  }

  final class AzureProvider(override val name: String, cfg: Config,
      client: ApiClient) extends Discovery.Provider {
    def this(name: String, cfg: Config) = this(name, cfg, new HttpApiClient(cfg))
    override def refreshMs: Long = cfg.refreshMs

    private def listVMs(): List[J] = {
      val rgSeg =
        if (cfg.resourceGroup.nonEmpty) s"/resourceGroups/${cfg.resourceGroup}"
        else ""
      var path = s"/subscriptions/${cfg.subscriptionId}$rgSeg" +
        "/providers/Microsoft.Compute/virtualMachines?api-version=2023-03-01"
      val out = List.newBuilder[J]
      while (path.nonEmpty) {
        val page = map(JsonLite.parse(client.get(path)))
        out ++= list(page, "value")
        val next = str(page, "nextLink")
        path = if (next.isEmpty) ""
          else next.stripPrefix("https://management.azure.com")
      }
      out.result()
    }

    override def refresh(): Seq[Discovery.TargetGroup] = {
      val targets = listVMs().flatMap { vm =>
        val id = str(vm, "id"); val props = map(vm, "properties")
        val osProfile = map(props, "osProfile")
        val osType = str(map(map(props, "storageProfile"), "osDisk"), "osType")
        var l = Map(
          "__meta_azure_subscription_id" -> cfg.subscriptionId,
          "__meta_azure_tenant_id" -> cfg.tenantId,
          "__meta_azure_machine_id" -> id,
          "__meta_azure_machine_name" -> str(vm, "name"),
          "__meta_azure_machine_computer_name" -> str(osProfile, "computerName"),
          "__meta_azure_machine_os_type" -> osType,
          "__meta_azure_machine_location" -> str(vm, "location"),
          "__meta_azure_machine_resource_group" -> resourceGroupOf(id),
          "__meta_azure_machine_size" -> str(map(props, "hardwareProfile"), "vmSize"))
        map(vm, "tags").foreach { case (k, v) =>
          l += "__meta_azure_machine_tag_" + KubernetesSd.sanitize(k) -> str(v) }
        // primary NIC → private (address) + optional public IP
        val nics = list(map(props, "networkProfile"), "networkInterfaces")
        val resolved = nics.flatMap { n =>
          val nid = str(n, "id")
          if (nid.isEmpty) None
          else try Some(map(JsonLite.parse(
            client.get(nid + "?api-version=2023-04-01"))))
          catch { case _: Exception => None }
        }
        val primary = resolved.find(n =>
          bool(map(n, "properties"), "primary"))
          .orElse(resolved.headOption)
        primary.flatMap { nic =>
          val ipcs = list(map(nic, "properties"), "ipConfigurations")
          val priv = ipcs.map(c => str(map(c, "properties"), "privateIPAddress"))
            .find(_.nonEmpty)
          val pub = ipcs.map(c =>
            str(map(map(map(c, "properties"), "publicIPAddress"), "properties"), "ipAddress"))
            .find(_.nonEmpty)
          priv.map { ip =>
            pub.foreach(p => l += "__meta_azure_machine_public_ip" -> p)
            (hostPort(ip, cfg.port),
              l + ("__meta_azure_machine_private_ip" -> ip))
          }
        }
      }
      Seq(Discovery.TargetGroup("azure", Map.empty, targets))
    }
  }
}
