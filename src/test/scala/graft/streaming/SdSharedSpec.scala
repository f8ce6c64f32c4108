package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

/** The shared service-discovery transport and JSON accessors ([[SdHttp]],
  * [[SdJson]]): value rendering, the label values that changed when the
  * providers that printed whole numbers as `80.0` moved onto [[SdJson.str]],
  * Azure's token fetch through [[graft.web.AzureAd]], and a guard that no
  * provider grows its own HTTP client or accessor copies back. */
class SdSharedSpec extends AnyFunSuite {
  import SdJson._

  test("SdJson.str: string, whole, >=1e15, fractional, Boolean and null") {
    assert(str("x") == "x")
    assert(str(80.0) == "80")
    assert(str(-3.0) == "-3")
    assert(str(1e15) == "1000000000000000")
    assert(str(1.5e15) == "1500000000000000")
    assert(str(0.25) == "0.25")
    assert(str(true) == "true")
    assert(str(false) == "false")
    assert(str(null) == "")
    assert(str(java.lang.Long.valueOf(9L)) == "9") // XML-RPC integers
  }

  test("SdJson accessors read missing or mistyped values as empty") {
    val o: J = Map("m" -> Map("k" -> "v"), "l" -> List(Map("a" -> 1.0), "junk"),
      "s" -> List("a", 2.0, null), "t" -> true, "n" -> 9.7, "x" -> "str")
    assert(map(o, "m") == Map("k" -> "v"))
    assert(map(o, "x").isEmpty && map(o, "missing").isEmpty)
    assert(list(o, "l") == List(Map("a" -> 1.0), Map.empty))
    assert(list(o, "x").isEmpty)
    assert(strs(o, "s") == List("a", "2", ""))
    assert(bool(o, "t") && !bool(o, "x") && !bool(o, "missing"))
    assert(long(o, "n") == 9L && long(o, "x") == 0L)
    assert(opt(o, "x").contains("str") && opt(o, "n").isEmpty && opt(o, "missing").isEmpty)
  }

  // Of the eight providers that rendered with String.valueOf, only OCI's
  // defined tags are typed to carry JSON numbers; the others pass API
  // fields their schemas type as strings. Label maps can still hold a
  // number, so one user-supplied map per behaviour is pinned here.

  test("azure tags: a whole JSON number renders as a long, not 80.0") {
    val fake = new AzureSd.ApiClient {
      override def get(path: String): String =
        if (path.contains("/virtualMachines?"))
          """{"value":[{"id":"/subscriptions/s/resourceGroups/rg/providers/x/vm1",
            |"name":"vm1","tags":{"tier":2,"ratio":0.5},
            |"properties":{"networkProfile":{
            |  "networkInterfaces":[{"id":"/nic1"}]}}}]}""".stripMargin
        else """{"properties":{"ipConfigurations":[
               |{"properties":{"privateIPAddress":"10.0.0.1"}}]}}""".stripMargin
    }
    val (_, l) = new AzureSd.AzureProvider("azure/0", AzureSd.Config("s"), fake)
      .refresh().head.targets.head
    assert(l("__meta_azure_machine_tag_tier") == "2")
    assert(l("__meta_azure_machine_tag_ratio") == "0.5")
  }

  test("kuma labels: a whole JSON number renders as a long, not 8080.0") {
    val fake = new KumaSd.ApiClient {
      override def fetch(body: String): Option[String] = Some(
        """{"resources":[{"mesh":"m","service":"s","labels":{"port":8080},
          |"targets":[{"name":"t1","address":"10.0.0.2:9090"}]}]}""".stripMargin)
    }
    val (_, l) = new KumaSd.KumaProvider("kuma/0", KumaSd.Config("http://kuma"), fake)
      .refresh().head.targets.head
    assert(l("__meta_kuma_label_port") == "8080")
  }

  test("oci defined tags: numbers beyond the long range render in full") {
    val fake = new OciSd.ApiClient {
      override def get(service: String, path: String): String =
        if (path.startsWith("/20160918/instances"))
          """[{"id":"i1","definedTags":{"ops":{"big":1e20,"n":3}}}]"""
        else if (path.startsWith("/20160918/vnicAttachments"))
          """[{"vnicId":"v1","lifecycleState":"ATTACHED"}]"""
        else """{"id":"v1","isPrimary":true,"privateIp":"10.0.0.3"}"""
    }
    val (_, l) = new OciSd.OciProvider("oci/0",
      OciSd.Config("r", compartments = Seq("c1")), fake).refresh().head.targets.head
    assert(l("__meta_oci_defined_tag_ops_big") == "100000000000000000000")
    assert(l("__meta_oci_defined_tag_ops_n") == "3")
  }

  test("azure: a failed token fetch fails the refresh and is retried, not cached") {
    @volatile var tokenStatus = 401
    val armAuth = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val forms = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      val (status, body) =
        if (path == "/login/ten1/oauth2/v2.0/token") {
          forms.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
          if (tokenStatus == 200) (200, """{"access_token":"at-1","expires_in":3600}""")
          else (tokenStatus, """{"error":"invalid_client"}""")
        } else if (path == "/arm/subscriptions/sub1/providers/Microsoft.Compute/virtualMachines") {
          armAuth.add(Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse(""))
          (200, """{"value":[]}""")
        } else (404, "")
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(status, if (b.isEmpty) -1 else b.length)
      if (b.nonEmpty) ex.getResponseBody.write(b)
      ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val cfg = AzureSd.Config("sub1", tenantId = "ten1", clientId = "cid",
        clientSecret = "s3cret")
      val prov = new AzureSd.AzureProvider("azure/0", cfg,
        new AzureSd.HttpApiClient(cfg, Some(base + "/login"), base + "/arm"))
      intercept[IllegalStateException](prov.refresh())
      assert(armAuth.isEmpty) // no ARM call with an empty bearer
      tokenStatus = 200
      assert(prov.refresh() == Seq(Discovery.TargetGroup("azure", Map.empty, Nil)))
      assert(armAuth.peek() == "Bearer at-1")
      assert(forms.size == 2)
      val form = forms.peek()
      assert(form.contains("grant_type=client_credentials"))
      assert(form.contains("client_id=cid") && form.contains("client_secret=s3cret"))
      assert(form.contains("scope=" +
        java.net.URLEncoder.encode("https://management.azure.com/.default", "UTF-8")))
    } finally server.stop(0)
  }

  test("no SD provider builds its own HttpClient or JSON accessor copies") {
    val dir = new java.io.File("src/main/scala/graft/streaming")
    val files = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.endsWith("Sd.scala") || f.getName == "Discovery.scala")
    assert(files.length > 30, s"SD sources not found under ${dir.getAbsolutePath}")
    val client = """HttpClient\s*\.\s*new(Builder|HttpClient)""".r
    val accessor = """def\s+j(map|list|str)\b""".r
    val offenders = files.toSeq.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      (client.findFirstIn(src) ++ accessor.findFirstIn(src)).map(m => s"${f.getName}: $m")
    }
    assert(offenders.isEmpty, "use SdHttp / SdJson instead")
  }
}
