package graft.streaming

import scala.collection.concurrent.TrieMap

/** Service-discovery manager + DNS SD (ref: discovery/manager.go,
  * discovery/dns/dns.go).
  *
  * The manager owns target-group state across all providers of all scrape
  * jobs: state is keyed by (setName=job, providerName) → source → group
  * (ref: manager.go targets map[poolKey]map[string]*Group). Update
  * semantics mirror updateGroup: a refresh only touches the sources it
  * mentions (a provider whose lookup fails for ONE name keeps that name's
  * previous targets), and a group with no targets deletes its source entry.
  * A provider whose whole refresh throws keeps its entire previous state
  * (the reference's refresh loop logs and re-serves the old groups).
  *
  * DNS SD resolves A/AAAA/SRV/MX/NS names on a refresh cadence with the
  * reference's per-target `__meta_dns_*` labels; the resolver is injectable
  * (tests drive the whole manager→relabel→scrape chain with a fake), the
  * default uses the JDK (InetAddress for A/AAAA, JNDI DNS for SRV/MX/NS).
  */
object Discovery {

  /** a discovered target group: per-target labels ride beside the group's
    * shared labels (ref: discovery/targetgroup/targetgroup.go — Targets is
    * a []LabelSet, Labels the group-wide set) */
  final case class TargetGroup(source: String, labels: Map[String, String],
      targets: Seq[(String, Map[String, String])])

  /** one SD mechanism instance feeding one or more scrape jobs */
  trait Provider {
    def name: String
    /** full current group set; sources absent from the result keep their
      * previous groups, throwing keeps everything */
    def refresh(): Seq[TargetGroup]
    /** refresh cadence; 0 = re-resolve on every poll */
    def refreshMs: Long = 0L
    /** release background resources (watch streams, threads) — called when
      * the manager drops the registration on a config reload */
    def close(): Unit = {}
  }

  final class StaticProvider(override val name: String, groups: Seq[TargetGroup])
      extends Provider {
    override def refresh(): Seq[TargetGroup] = groups
  }

  /** file SD: re-parse per poll (ref: discovery/file/file.go) */
  final class FileSdProvider(override val name: String, paths: Seq[String])
      extends Provider {
    override def refresh(): Seq[TargetGroup] = paths.map { p =>
      val tgts = ScrapeManager.fileSdTargets(p, defaultJob = "")
      TargetGroup(p, Map.empty,
        tgts.map(t => (t.instance, t.extraLabels ++
          (if (t.job.nonEmpty) Map("job" -> t.job) else Map.empty))))
    }
  }

  /** HTTP SD: GET a JSON array of target groups on a refresh cadence
    * (ref: discovery/http/http.go Refresh; source = url:index). A non-200
    * or parse failure throws — the manager keeps the previous targets. */
  final class HttpSdProvider(override val name: String, url: String,
      override val refreshMs: Long = 60000L) extends Provider {
    // group count of the previous successful refresh: a SHRINKING response
    // must emit empty groups for the dropped indices or the manager's
    // keep-absent-sources semantics would scrape the stale targets forever
    // (ref: discovery/http/http.go Refresh backfills [len(tgs), tgLastLength))
    private var lastLength = 0
    override def refresh(): Seq[TargetGroup] = {
      val groups = ScrapeManager.jsonSdGroups(SdHttp.get("http", url), url).zipWithIndex.map {
        case ((lbls, tgts), i) =>
          TargetGroup(s"$url:$i", lbls, tgts.map(a => (a, Map.empty[String, String])))
      }
      val deletions = (groups.length until lastLength)
        .map(i => TargetGroup(s"$url:$i", Map.empty, Nil))
      lastLength = groups.length
      groups ++ deletions
    }
  }

  // ---------------------------------------------------------------- DNS SD

  object DnsSd {
    sealed trait Rec
    final case class A(ip: String) extends Rec
    final case class AAAA(ip: String) extends Rec
    final case class SRV(target: String, port: Int) extends Rec
    final case class MX(target: String) extends Rec
    final case class NS(target: String) extends Rec

    /** injectable lookup; throws on lookup failure (the caller keeps the
      * name's previous targets — ref dns.go refreshOne error path) */
    trait Resolver { def lookup(name: String, recordType: String): Seq[Rec] }

    /** JDK-backed resolver: InetAddress for A/AAAA, JNDI DNS for SRV/MX/NS */
    object SystemResolver extends Resolver {
      override def lookup(name: String, recordType: String): Seq[Rec] =
        recordType.toUpperCase match {
          case "A" => java.net.InetAddress.getAllByName(name).toSeq
            .collect { case a: java.net.Inet4Address => A(a.getHostAddress) }
          case "AAAA" => java.net.InetAddress.getAllByName(name).toSeq
            .collect { case a: java.net.Inet6Address => AAAA(a.getHostAddress) }
          case t @ ("SRV" | "MX" | "NS") =>
            val env = new java.util.Hashtable[String, String]()
            env.put("java.naming.factory.initial", "com.sun.jndi.dns.DnsContextFactory")
            val ctx = new javax.naming.directory.InitialDirContext(env)
            try {
              val attrs = ctx.getAttributes(name, Array(t))
              val attr = attrs.get(t)
              if (attr == null) Nil
              else (0 until attr.size).map(i => String.valueOf(attr.get(i))).flatMap { s =>
                t match {
                  case "SRV" => // "priority weight port target"
                    val f = s.trim.split("\\s+")
                    if (f.length >= 4) Some(SRV(f(3), f(2).toInt)) else None
                  case "MX" => // "preference target"
                    val f = s.trim.split("\\s+")
                    if (f.length >= 2) Some(MX(f(1))) else None
                  case _ => Some(NS(s.trim))
                }
              }
            } finally ctx.close()
          case other => throw new IllegalArgumentException(s"invalid DNS-SD records type $other")
        }
    }

    /** dns_sd_configs entry (ref: discovery/dns/dns.go SDConfig;
      * defaults: SRV records, 30s refresh) */
    final case class Config(names: Seq[String], recordType: String = "SRV",
        port: Int = 0, refreshMs: Long = 30000L)

    /** a record's host:port, its trailing root dot dropped */
    private def address(host: String, port: Int): String =
      SdJson.hostPort(host.stripSuffix("."), port)

    /** one name → one target group with per-record targets and the
      * reference's meta labels (ref: dns.go:255 refreshOne) */
    def resolveName(name: String, cfg: Config, resolver: Resolver): TargetGroup = {
      val targets = resolver.lookup(name, cfg.recordType).map {
        case SRV(target, port) =>
          (address(target, port), Map(
            "__meta_dns_name" -> name,
            "__meta_dns_srv_record_target" -> target,
            "__meta_dns_srv_record_port" -> port.toString))
        case A(ip) => (address(ip, cfg.port), Map("__meta_dns_name" -> name))
        case AAAA(ip) => (address(ip, cfg.port), Map("__meta_dns_name" -> name))
        case MX(target) =>
          (address(target, cfg.port), Map(
            "__meta_dns_name" -> name,
            "__meta_dns_mx_record_target" -> target))
        case NS(target) =>
          (address(target, cfg.port), Map(
            "__meta_dns_name" -> name,
            "__meta_dns_ns_record_target" -> target))
      }
      TargetGroup(name, Map.empty, targets)
    }
  }

  final class DnsProvider(override val name: String, cfg: DnsSd.Config,
      resolver: DnsSd.Resolver = DnsSd.SystemResolver) extends Provider {
    override def refreshMs: Long = cfg.refreshMs
    /** per-name isolation: a failed lookup omits that name's group (the
      * manager then keeps its previous targets) instead of failing the rest
      * (ref: dns.go refresh — errors are logged per name) */
    override def refresh(): Seq[TargetGroup] = cfg.names.flatMap { n =>
      try Some(DnsSd.resolveName(n, cfg, resolver))
      catch { case _: Exception => None }
    }
  }

  // ---------------------------------------------------------------- manager

  final class Manager(nowMs: () => Long = () => System.currentTimeMillis()) {
    private[this] final case class Reg(setName: String, provider: Provider)
    @volatile private var regs: Vector[Reg] = Vector.empty
    // (setName, providerName) → source → group  (ref: manager.go targets)
    private val state = TrieMap[(String, String), Map[String, TargetGroup]]()
    private val lastPoll = TrieMap[(String, String), Long]()

    def register(setName: String, provider: Provider): Unit = synchronized {
      regs = regs :+ Reg(setName, provider)
    }

    // bumped by clear(): folds/unclaims from refreshes claimed under an
    // older generation are discarded — after a reload, keys like
    // (job, "http/0") are REUSED by the new provider set, so a stale
    // in-flight refresh must not fold old groups into (or release the
    // in-flight mark of) the new registration
    private var generation = 0L

    /** drop every registration (config reload re-registers from scratch);
      * dropped providers release their background resources (informer watch
      * threads must not leak across reloads) */
    def clear(): Unit = synchronized {
      regs.foreach(r => try r.provider.close() catch { case _: Exception => () })
      regs = Vector.empty; state.clear(); lastPoll.clear(); inFlight.clear()
      generation += 1
    }

    // providers currently being refreshed — claims are single-flight so
    // N pools sharing a provider never duplicate SD fetches
    private val inFlight = scala.collection.mutable.Set[(String, String)]()

    /** refresh every provider whose cadence has elapsed and fold the result
      * into the per-source state (ref: manager.go updateGroup semantics).
      * Claiming (lastPoll stamp + in-flight mark) happens under the
      * monitor, so concurrent pools can't duplicate a refresh or interleave
      * state folds — but the refresh network I/O itself runs UNLOCKED: one
      * unresponsive SD endpoint must not stall every other job's target
      * resolution (or a config reload) behind the monitor. The cadence
      * stamp is kept on failure — a downed endpoint is retried at its
      * refresh interval, not hammered at scrape frequency. */
    def poll(): Unit = {
      val now = nowMs()
      val (claimed, gen) = synchronized {
        (regs.filter { r =>
          val key = (r.setName, r.provider.name)
          val due = !inFlight.contains(key) &&
            lastPoll.get(key).forall(at => now - at >= r.provider.refreshMs)
          if (due) { lastPoll.put(key, now); inFlight += key }
          due
        }, generation)
      }
      claimed.foreach { r =>
        val key = (r.setName, r.provider.name)
        try {
          val groups = r.provider.refresh() // blocking I/O, no lock held
          synchronized {
            if (generation == gen) {
              val prev = state.getOrElse(key, Map.empty)
              val next = groups.foldLeft(prev) { (acc, g) =>
                if (g.targets.nonEmpty) acc + (g.source -> g) else acc - g.source
              }
              state.put(key, next)
            } // else: a reload re-registered this key; drop the stale fold
          }
        } catch { case _: Exception => () } // whole-refresh failure: keep state
        finally synchronized { if (generation == gen) inFlight -= key }
      }
    }

    /** merged groups of a scrape job across all its providers
      * (ref: manager.go allGroups) */
    def groupsFor(setName: String): Seq[TargetGroup] =
      regs.filter(_.setName == setName).flatMap(r =>
        state.getOrElse((setName, r.provider.name), Map.empty).values.toSeq
          .sortBy(_.source))

    /** expand a job's merged groups into scrape targets (group labels +
      * per-target labels; a `job` label overrides the default) — the same
      * decoration [[ScrapeManager.groupsToTargets]] applies to raw groups */
    def targetsFor(setName: String, defaultJob: String, scheme: String = "http",
        metricsPath: String = "/metrics"): Seq[ScrapeManager.ScrapeTarget] =
      for {
        g <- groupsFor(setName)
        (addr, tl) <- g.targets
      } yield {
        val lbls = g.labels ++ tl
        ScrapeManager.ScrapeTarget(s"$scheme://$addr$metricsPath",
          lbls.getOrElse("job", defaultJob), addr,
          extraLabels = lbls - "job")
      }
  }

  /** Expand an alertmanager group's discovered target groups into push
    * URLs (ref: notifier/alertmanager.go:48 AlertmanagerFromGroup): the
    * configured scheme and path (path_prefix + /api/<version>/alerts,
    * ref :87 postPath) seed `__scheme__`/`__alerts_path__` OVER any
    * per-target value, group labels fill in only where the target lacks
    * them, then the group's relabel_configs may rewrite
    * `__address__`/`__scheme__`/`__alerts_path__` or drop the target. */
  def alertmanagerEndpoints(mgr: Manager, g: Config.AlertmanagerGroup): Seq[String] =
    alertmanagerTargets(mgr, g)._1

  /** like [[alertmanagerEndpoints]] but also returns the relabel-DROPPED
    * alertmanagers' pre-relabel URLs (ref: AlertmanagerFromGroup's
    * droppedAlertManagers, served by /api/v1/alertmanagers). */
  def alertmanagerTargets(mgr: Manager, g: Config.AlertmanagerGroup)
      : (Seq[String], Seq[String]) = {
    val path0 = {
      val p = s"${g.pathPrefix.stripSuffix("/")}/api/${g.apiVersion}/alerts"
      if (p.startsWith("/")) p else "/" + p
    }
    def url(lbls: Map[String, String], addr: String): String = {
      val p = lbls.getOrElse("__alerts_path__", path0)
      s"${lbls.getOrElse("__scheme__", g.scheme)}://${lbls.getOrElse("__address__", addr)}" +
        (if (p.startsWith("/")) p else "/" + p)
    }
    val results = for {
      tg <- mgr.groupsFor(g.sd.jobName)
      (addr, tl) <- tg.targets
    } yield {
      val seeded = (Map("__address__" -> addr) ++ tl) +
        ("__scheme__" -> g.scheme) + ("__alerts_path__" -> path0)
      val full = seeded ++ (tg.labels -- seeded.keySet)
      Relabel.applyToMap(full, g.sd.relabel) match {
        case Some(out) => Left(url(out, addr))
        case None => Right(url(full, addr)) // dropped: pre-relabel labels
      }
    }
    (results.collect { case Left(u) => u }.distinct,
      results.collect { case Right(u) => u }.distinct)
  }

  /** register every SD mechanism of one scrape job on a manager — the one
    * assembly used by both the live server and `promtool check
    * service-discovery` (ref: scrape config ServiceDiscoveryConfigs →
    * NewDiscoverer per mechanism) */
  def registerJob(mgr: Manager, job: Config.ScrapeJob,
      resolver: DnsSd.Resolver = DnsSd.SystemResolver,
      k8sClient: Option[KubernetesSd.ApiClient] = None,
      consulClient: Option[ConsulSd.ApiClient] = None,
      ec2Client: Option[Ec2Sd.ApiClient] = None,
      ecsClient: Option[EcsSd.ApiClient] = None,
      rdsClient: Option[RdsSd.ApiClient] = None,
      mskClient: Option[MskSd.ApiClient] = None,
      elasticacheClient: Option[ElasticacheSd.ApiClient] = None,
      gceClient: Option[GceSd.ApiClient] = None,
      azureClient: Option[AzureSd.ApiClient] = None,
      dockerClient: Option[DockerSd.ApiClient] = None,
      digitaloceanClient: Option[DigitalOceanSd.ApiClient] = None,
      hetznerClient: Option[HetznerSd.ApiClient] = None,
      openstackClient: Option[OpenStackSd.ApiClient] = None,
      eurekaClient: Option[EurekaSd.ApiClient] = None,
      nomadClient: Option[NomadSd.ApiClient] = None,
      marathonClient: Option[MarathonSd.ApiClient] = None,
      puppetdbClient: Option[PuppetDbSd.ApiClient] = None,
      linodeClient: Option[LinodeSd.ApiClient] = None,
      vultrClient: Option[VultrSd.ApiClient] = None,
      scalewayClient: Option[ScalewaySd.ApiClient] = None,
      lightsailClient: Option[LightsailSd.ApiClient] = None,
      dockerswarmClient: Option[DockerSwarmSd.ApiClient] = None,
      tritonClient: Option[TritonSd.ApiClient] = None,
      ovhcloudClient: Option[OvhcloudSd.ApiClient] = None,
      ionosClient: Option[IonosSd.ApiClient] = None,
      stackitClient: Option[StackitSd.ApiClient] = None,
      outscaleClient: Option[OutscaleSd.ApiClient] = None,
      uyuniClient: Option[UyuniSd.ApiClient] = None,
      ociClient: Option[OciSd.ApiClient] = None,
      kumaClient: Option[KumaSd.ApiClient] = None,
      zkClient: Option[() => ZookeeperSd.ZkClient] = None): Unit = {
    if (job.staticTargets.nonEmpty)
      mgr.register(job.jobName, new StaticProvider("static",
        Seq(TargetGroup("static/0", Map.empty,
          job.staticTargets.map(t => (t.instance,
            t.extraLabels ++ Map("job" -> t.job)))))))
    if (job.fileSdPaths.nonEmpty)
      mgr.register(job.jobName, new FileSdProvider("file", job.fileSdPaths))
    job.dnsSd.zipWithIndex.foreach { case (dc, i) =>
      mgr.register(job.jobName, new DnsProvider(s"dns/$i", dc, resolver)) }
    job.httpSd.zipWithIndex.foreach { case ((url, ms), i) =>
      mgr.register(job.jobName, new HttpSdProvider(s"http/$i", url, ms)) }
    def add[C](cfgs: Seq[C], kind: String)(mk: (String, C) => Provider): Unit =
      cfgs.zipWithIndex.foreach { case (c, i) => mgr.register(job.jobName, mk(s"$kind/$i", c)) }
    add(job.kubernetesSd, "kubernetes")((n, c) => new KubernetesSd.KubernetesProvider(n, c,
      k8sClient.getOrElse(new KubernetesSd.HttpApiClient(c.apiServer, c.bearerTokenFile))))
    add(job.consulSd, "consul")((n, c) => new ConsulSd.ConsulProvider(n, c,
      consulClient.getOrElse(new ConsulSd.HttpApiClient(c))))
    add(job.ec2Sd, "ec2")((n, c) => new Ec2Sd.Ec2Provider(n, c,
      ec2Client.getOrElse(new Ec2Sd.HttpApiClient(c))))
    add(job.ecsSd, "ecs")((n, c) => new EcsSd.EcsProvider(n, c,
      r => ecsClient.getOrElse(new EcsSd.HttpApiClient(c, r))))
    add(job.rdsSd, "rds")((n, c) => new RdsSd.RdsProvider(n, c,
      r => rdsClient.getOrElse(new RdsSd.HttpApiClient(c, r))))
    add(job.mskSd, "msk")((n, c) => new MskSd.MskProvider(n, c,
      r => mskClient.getOrElse(new MskSd.HttpApiClient(c, r))))
    add(job.elasticacheSd, "elasticache")((n, c) => new ElasticacheSd.ElasticacheProvider(n, c,
      r => elasticacheClient.getOrElse(new ElasticacheSd.HttpApiClient(c, r))))
    add(job.gceSd, "gce")((n, c) => new GceSd.GceProvider(n, c,
      gceClient.getOrElse(new GceSd.HttpApiClient(c))))
    add(job.azureSd, "azure")((n, c) => new AzureSd.AzureProvider(n, c,
      azureClient.getOrElse(new AzureSd.HttpApiClient(c))))
    add(job.dockerSd, "docker")((n, c) => new DockerSd.DockerProvider(n, c,
      dockerClient.getOrElse(new DockerSd.HttpApiClient(c))))
    add(job.digitaloceanSd, "digitalocean")((n, c) => new DigitalOceanSd.DigitalOceanProvider(n, c,
      digitaloceanClient.getOrElse(new DigitalOceanSd.HttpApiClient(c))))
    add(job.hetznerSd, "hetzner")((n, c) => new HetznerSd.HetznerProvider(n, c,
      hetznerClient.getOrElse(new HetznerSd.HttpApiClient(c))))
    add(job.openstackSd, "openstack")((n, c) => new OpenStackSd.OpenStackProvider(n, c,
      openstackClient.getOrElse(new OpenStackSd.HttpApiClient(c))))
    add(job.eurekaSd, "eureka")((n, c) => new EurekaSd.EurekaProvider(n, c,
      eurekaClient.getOrElse(new EurekaSd.HttpApiClient(c))))
    add(job.nomadSd, "nomad")((n, c) => new NomadSd.NomadProvider(n, c,
      nomadClient.getOrElse(new NomadSd.HttpApiClient(c))))
    add(job.marathonSd, "marathon")((n, c) => new MarathonSd.MarathonProvider(n, c,
      marathonClient.getOrElse(new MarathonSd.HttpApiClient(c))))
    add(job.puppetdbSd, "puppetdb")((n, c) => new PuppetDbSd.PuppetDbProvider(n, c,
      puppetdbClient.getOrElse(new PuppetDbSd.HttpApiClient)))
    add(job.linodeSd, "linode")((n, c) => new LinodeSd.LinodeProvider(n, c,
      linodeClient.getOrElse(new LinodeSd.HttpApiClient(c))))
    add(job.vultrSd, "vultr")((n, c) => new VultrSd.VultrProvider(n, c,
      vultrClient.getOrElse(new VultrSd.HttpApiClient(c))))
    add(job.scalewaySd, "scaleway")((n, c) => new ScalewaySd.ScalewayProvider(n, c,
      scalewayClient.getOrElse(new ScalewaySd.HttpApiClient(c))))
    add(job.lightsailSd, "lightsail")((n, c) => new LightsailSd.LightsailProvider(n, c,
      lightsailClient.getOrElse(new LightsailSd.HttpApiClient(c))))
    add(job.dockerswarmSd, "dockerswarm")((n, c) => new DockerSwarmSd.DockerSwarmProvider(n, c,
      dockerswarmClient.getOrElse(new DockerSwarmSd.HttpApiClient(c))))
    add(job.tritonSd, "triton")((n, c) => new TritonSd.TritonProvider(n, c,
      tritonClient.getOrElse(new TritonSd.HttpApiClient)))
    add(job.ovhcloudSd, "ovhcloud")((n, c) => new OvhcloudSd.OvhcloudProvider(n, c,
      ovhcloudClient.getOrElse(new OvhcloudSd.HttpApiClient(c))))
    add(job.ionosSd, "ionos")((n, c) => new IonosSd.IonosProvider(n, c,
      ionosClient.getOrElse(new IonosSd.HttpApiClient(c))))
    add(job.stackitSd, "stackit")((n, c) => new StackitSd.StackitProvider(n, c,
      stackitClient.getOrElse(new StackitSd.HttpApiClient(c))))
    add(job.outscaleSd, "outscale")((n, c) => new OutscaleSd.OutscaleProvider(n, c,
      outscaleClient.getOrElse(new OutscaleSd.HttpApiClient(c))))
    add(job.uyuniSd, "uyuni")((n, c) => new UyuniSd.UyuniProvider(n, c,
      uyuniClient.getOrElse(new UyuniSd.HttpApiClient(c))))
    add(job.ociSd, "oci")((n, c) => new OciSd.OciProvider(n, c,
      ociClient.getOrElse(new OciSd.HttpApiClient(c))))
    add(job.kumaSd, "kuma")((n, c) => new KumaSd.KumaProvider(n, c,
      kumaClient.getOrElse(new KumaSd.HttpApiClient(c))))
    job.zookeeperSd.zipWithIndex.foreach { case (zc, i) =>
      mgr.register(job.jobName, new ZookeeperSd.ZookeeperProvider(s"${zc.kind}/$i", zc,
        zkClient.getOrElse(() => new ZookeeperSd.WireZkClient(zc.servers, zc.timeoutMs)))) }
  }
}
