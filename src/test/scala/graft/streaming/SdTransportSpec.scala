package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

/** The default (production) transport of every service-discovery provider
  * whose base URL is configurable, driven over a loopback HTTP server: the
  * fake-API specs inject `ApiClient`s and never exercise it. Each row pins
  * the method, path+query and auth header of a default-client refresh, and
  * that a 500 response makes `refresh()` throw (the manager then keeps the
  * previous targets); token files must be re-read on every request. */
import SdTransportSpec._

class SdTransportSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {

  @volatile private var routes: Map[String, String => String] = Map.empty
  @volatile private var failAll = false
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[Req]()

  private val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => {
    val uri = ex.getRequestURI
    val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
    val hdrs = Seq("Authorization", "Accept", "X-Consul-Token", "X-Auth-Token",
      "X-Ovh-Application", "X-Ovh-Signature").flatMap(h =>
      Option(ex.getRequestHeaders.getFirst(h)).map(h -> _)).toMap
    val pq = uri.getRawPath + Option(uri.getRawQuery).map("?" + _).getOrElse("")
    // informer watches stream in the background; only LISTs are recorded
    if (!pq.contains("watch=1")) seen.add(Req(ex.getRequestMethod, pq, hdrs, body))
    val (status, out) =
      if (failAll) (500, "boom")
      else routes.get(uri.getRawPath).map(f => (200, f(body))).getOrElse((404, "no route"))
    val b = out.getBytes("UTF-8")
    ex.getResponseHeaders.set("X-Subject-Token", "os-token")
    ex.sendResponseHeaders(status, if (b.isEmpty) -1 else b.length)
    if (b.nonEmpty) ex.getResponseBody.write(b)
    ex.close()
  })
  server.start()
  private val base = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def requests(): List[Req] = {
    import scala.jdk.CollectionConverters._
    seen.asScala.toList
  }
  private def reset(r: Map[String, String => String]): Unit = {
    routes = r; failAll = false; seen.clear()
  }
  private def const(body: String): String => String = _ => body
  private def is(v: String): String => Boolean = _ == v
  private def sigV4(service: String, region: String): String => Boolean = a =>
    a.startsWith("AWS4-HMAC-SHA256 Credential=AKID/") &&
      a.contains(s"/$region/$service/aws4_request")
  private def refreshAndClose(p: Discovery.Provider): Seq[Discovery.TargetGroup] =
    try p.refresh() finally p.close()
  private def tempFile(content: String): java.nio.file.Path = {
    val f = java.nio.file.Files.createTempFile("sd-token", ".txt")
    f.toFile.deleteOnExit()
    java.nio.file.Files.write(f, content.getBytes("UTF-8"))
  }

  private val xmlRpcToken =
    "<methodResponse><params><param><value><string>uy-token</string></value></param></params></methodResponse>"
  private val xmlRpcEmpty =
    "<methodResponse><params><param><value><array><data></data></array></value></param></params></methodResponse>"

  private val rows = Seq(
    Row("consul", b => new ConsulSd.ConsulProvider("consul/0",
        ConsulSd.Config(server = b.stripPrefix("http://"), token = "ctok", datacenter = "dc1")),
      "GET", "/v1/catalog/services?dc=dc1",
      _ => Map("/v1/catalog/services" -> const("{}")),
      Some("X-Consul-Token" -> is("ctok"))),
    Row("docker", b => new DockerSd.DockerProvider("docker/0",
        DockerSd.Config(b.replace("http://", "tcp://"))),
      "GET", "/containers/json",
      _ => Map("/containers/json" -> const("[]"), "/networks" -> const("[]"))),
    Row("dockerswarm", b => new DockerSwarmSd.DockerSwarmProvider("dockerswarm/0",
        DockerSwarmSd.Config(b, "nodes")),
      "GET", "/nodes", _ => Map("/nodes" -> const("[]"))),
    Row("eureka", b => new EurekaSd.EurekaProvider("eureka/0",
        EurekaSd.Config(b + "/eureka")),
      "GET", "/eureka/apps",
      _ => Map("/eureka/apps" -> const("<applications></applications>")),
      Some("Accept" -> is("application/xml"))),
    Row("marathon", b => new MarathonSd.MarathonProvider("marathon/0",
        MarathonSd.Config(Seq(b), authToken = "mtok")),
      "GET", "/v2/apps/?embed=apps.tasks",
      _ => Map("/v2/apps/" -> const("""{"apps":[]}""")),
      Some("Authorization" -> is("token=mtok"))),
    Row("nomad", b => new NomadSd.NomadProvider("nomad/0", NomadSd.Config(b)),
      "GET", "/v1/services?namespace=default&region=global&stale=",
      _ => Map("/v1/services" -> const("[]"))),
    Row("puppetdb", b => new PuppetDbSd.PuppetDbProvider("puppetdb/0",
        PuppetDbSd.Config(b, "resources { type = \"Class\" }")),
      "POST", "/pdb/query/v4", _ => Map("/pdb/query/v4" -> const("[]"))),
    Row("kuma", b => new KumaSd.KumaProvider("kuma/0", KumaSd.Config(b)),
      "POST", "/v3/discovery:monitoringassignments?fetch-timeout=120s",
      _ => Map("/v3/discovery:monitoringassignments" -> const("""{"resources":[]}"""))),
    Row("uyuni", b => new UyuniSd.UyuniProvider("uyuni/0",
        UyuniSd.Config(b, "admin", "secret")),
      "POST", "/rpc/api",
      _ => Map("/rpc/api" -> (body =>
        if (body.contains("auth.login")) xmlRpcToken else xmlRpcEmpty))),
    Row("scaleway", b => new ScalewaySd.ScalewayProvider("scaleway/0",
        ScalewaySd.Config("instance", secretKey = "sktok", apiUrl = b)),
      "GET", "/instance/v1/zones/fr-par-1/servers?page=1&per_page=50",
      _ => Map("/instance/v1/zones/fr-par-1/servers" -> const("""{"servers":[]}""")),
      Some("X-Auth-Token" -> is("sktok"))),
    Row("stackit", b => new StackitSd.StackitProvider("stackit/0",
        StackitSd.Config("p1", endpoint = b, bearerToken = "stok")),
      "GET", "/v1/projects/p1/servers",
      _ => Map("/v1/projects/p1/servers" -> const("""{"items":[]}""")),
      Some("Authorization" -> is("Bearer stok"))),
    Row("openstack", b => new OpenStackSd.OpenStackProvider("openstack/0",
        OpenStackSd.Config("hypervisor", "r1", identityEndpoint = b + "/identity",
          username = "u", password = "p", domainName = "d")),
      "POST", "/identity/v3/auth/tokens",
      b => Map(
        "/identity/v3/auth/tokens" -> const(
          s"""{"token":{"catalog":[{"type":"compute","endpoints":[
             |{"interface":"public","region":"r1","url":"$b/compute"}]}]}}""".stripMargin),
        "/compute/os-hypervisors/detail" -> const("""{"hypervisors":[]}""")),
      Some("X-Auth-Token" -> is("os-token")), authAt = 1),
    Row("ovhcloud", b => new OvhcloudSd.OvhcloudProvider("ovhcloud/0",
        OvhcloudSd.Config("vps", applicationKey = "oak", applicationSecret = "oas",
          consumerKey = "ock", endpoint = b)),
      "GET", "/vps", _ => Map("/vps" -> const("[]")),
      Some("X-Ovh-Signature" -> (_.startsWith("$1$")))),
    Row("kubernetes", b => new KubernetesSd.KubernetesProvider("kubernetes/0",
        KubernetesSd.Config("pod", b, Seq("default"),
          bearerTokenFile = tempFile("ktok\n").toString)),
      "GET", "/api/v1/namespaces/default/pods",
      _ => Map("/api/v1/namespaces/default/pods" -> const(
        """{"metadata":{"resourceVersion":"1"},"items":[]}""")),
      Some("Authorization" -> is("Bearer ktok"))),
    Row("ec2", b => new Ec2Sd.Ec2Provider("ec2/0",
        Ec2Sd.Config("us-east-1", accessKey = "AKID", secretKey = "SK", endpoint = b)),
      "POST", "/", _ => Map("/" -> const("<DescribeInstancesResponse/>")),
      Some("Authorization" -> sigV4("ec2", "us-east-1"))),
    Row("lightsail", b => new LightsailSd.LightsailProvider("lightsail/0",
        LightsailSd.Config("us-east-1", accessKey = "AKID", secretKey = "SK", endpoint = b)),
      "POST", "/", _ => Map("/" -> const("""{"instances":[]}""")),
      Some("Authorization" -> sigV4("lightsail", "us-east-1"))),
    Row("ecs", b => new EcsSd.EcsProvider("ecs/0",
        EcsSd.Config("us-east-1", accessKey = "AKID", secretKey = "SK", endpoint = b)),
      "POST", "/", _ => Map("/" -> const("""{"clusterArns":[]}""")),
      Some("Authorization" -> sigV4("ecs", "us-east-1"))),
    Row("rds", b => new RdsSd.RdsProvider("rds/0",
        RdsSd.Config("us-east-1", accessKey = "AKID", secretKey = "SK", endpoint = b)),
      "POST", "/", _ => Map("/" -> const("<DescribeDBClustersResponse/>")),
      Some("Authorization" -> sigV4("rds", "us-east-1"))),
    Row("msk", b => new MskSd.MskProvider("msk/0",
        MskSd.Config("us-east-1", accessKey = "AKID", secretKey = "SK", endpoint = b)),
      "GET", "/api/v2/clusters?clusterTypeFilter=PROVISIONED&maxResults=100",
      _ => Map("/api/v2/clusters" -> const("""{"clusterInfoList":[]}""")),
      Some("Authorization" -> sigV4("kafka", "us-east-1"))),
    Row("elasticache", b => new ElasticacheSd.ElasticacheProvider("elasticache/0",
        ElasticacheSd.Config("us-east-1", accessKey = "AKID", secretKey = "SK", endpoint = b)),
      "POST", "/", _ => Map("/" -> const("<DescribeServerlessCachesResponse/>")),
      Some("Authorization" -> sigV4("elasticache", "us-east-1"))),
    Row("outscale", b => new OutscaleSd.OutscaleProvider("outscale/0",
        OutscaleSd.Config("eu-west-2", accessKey = "AKID", secretKey = "SK",
          endpoint = b + "/api/v1")),
      "POST", "/api/v1/ReadVms", _ => Map("/api/v1/ReadVms" -> const("""{"Vms":[]}""")),
      Some("Authorization" -> sigV4("oapi", "eu-west-2"))))

  rows.foreach { row =>
    test(s"${row.name}: default client sends ${row.method} ${row.pathQuery} with its auth") {
      reset(row.routes(base))
      assert(refreshAndClose(row.mk(base)).forall(_.targets.isEmpty))
      val reqs = requests()
      assert(reqs.nonEmpty)
      assert(reqs.head.method == row.method)
      assert(reqs.head.pathQuery == row.pathQuery)
      row.auth.foreach { case (h, ok) =>
        val v = reqs(row.authAt).headers.getOrElse(h, "")
        assert(ok(v), s"$h: '$v'")
      }
    }
    test(s"${row.name}: a 500 response makes refresh() throw") {
      reset(row.routes(base))
      failAll = true
      intercept[Exception](refreshAndClose(row.mk(base)))
      assert(requests().nonEmpty)
    }
  }

  test("triton: default client GETs the discover URL it is given") {
    reset(Map("/v1/discover" -> const("""{"containers":[]}""")))
    val client = new TritonSd.HttpApiClient
    assert(client.get(s"$base/v1/discover?groups=a%2Cb") == """{"containers":[]}""")
    assert(requests().map(r => (r.method, r.pathQuery)) == List(("GET", "/v1/discover?groups=a%2Cb")))
    failAll = true
    intercept[Exception](client.get(s"$base/v1/discover"))
  }

  // ---------------------------------------------------- token-file re-read

  private def rereadCase(name: String, header: String, render: String => String,
      path: String, body: String, mk: String => Discovery.Provider): Unit =
    test(s"$name: a token file rewritten between two refreshes is re-read") {
      val f = tempFile("first\n")
      reset(Map(path -> const(body)))
      val p = mk(f.toString)
      try {
        p.refresh()
        java.nio.file.Files.write(f, "second".getBytes("UTF-8"))
        p.refresh()
      } finally p.close()
      assert(requests().map(_.headers.getOrElse(header, "")).distinct ==
        List(render("first"), render("second")))
    }

  rereadCase("marathon", "Authorization", "token=" + _, "/v2/apps/", """{"apps":[]}""",
    f => new MarathonSd.MarathonProvider("marathon/0",
      MarathonSd.Config(Seq(base), authTokenFile = f)))
  rereadCase("scaleway", "X-Auth-Token", identity, "/instance/v1/zones/fr-par-1/servers",
    """{"servers":[]}""",
    f => new ScalewaySd.ScalewayProvider("scaleway/0",
      ScalewaySd.Config("instance", secretKeyFile = f, apiUrl = base)))

  test("kubernetes: the service-account token file is re-read on every request") {
    val f = tempFile("first")
    reset(Map("/api/v1/nodes" -> const("""{"items":[]}""")))
    val client = new KubernetesSd.HttpApiClient(base, f.toString)
    client.get("/api/v1/nodes")
    java.nio.file.Files.write(f, "second".getBytes("UTF-8"))
    client.get("/api/v1/nodes")
    assert(requests().map(_.headers.getOrElse("Authorization", "")) ==
      List("Bearer first", "Bearer second"))
    failAll = true
    intercept[Exception](client.get("/api/v1/nodes"))
  }

  // ------------------------------------------------ JSON value rendering

  test("JSON values render with Go parity: string, whole, >=1e15, fractional, Boolean, null") {
    reset(Map("/pdb/query/v4" -> const(
      """[{"certname":"h1","resource":"r1","type":"Class","title":80,"file":null,
        |  "environment":1.5e15,"exported":false,
        |  "parameters":{"frac":0.25,"neg":-3,"flag":true,"big":1e15,"s":"x"}}]""".stripMargin)))
    val groups = new PuppetDbSd.PuppetDbProvider("puppetdb/0",
      PuppetDbSd.Config(base, "q", includeParameters = true)).refresh()
    val (addr, l) = groups.head.targets.head
    assert(addr == "h1:80")
    assert(l("__meta_puppetdb_resource") == "r1")
    assert(l("__meta_puppetdb_title") == "80")
    assert(l("__meta_puppetdb_file") == "")
    assert(l("__meta_puppetdb_environment") == "1500000000000000")
    assert(l("__meta_puppetdb_parameter_frac") == "0.25")
    assert(l("__meta_puppetdb_parameter_neg") == "-3")
    assert(l("__meta_puppetdb_parameter_flag") == "true")
    assert(l("__meta_puppetdb_parameter_big") == "1000000000000000")
    assert(l("__meta_puppetdb_parameter_s") == "x")
  }

  override def afterAll(): Unit = { server.stop(0); super.afterAll() }
}

object SdTransportSpec {
  final case class Req(method: String, pathQuery: String,
      headers: Map[String, String], body: String)

  /** one provider under test: `routes` maps a request path (no query) to a
    * response body computed from the request body; `auth` checks the
    * header that authenticates the first authenticated request */
  final case class Row(name: String, mk: String => Discovery.Provider,
      method: String, pathQuery: String, routes: String => Map[String, String => String],
      auth: Option[(String, String => Boolean)] = None, authAt: Int = 0)
}
