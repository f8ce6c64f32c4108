package graft

import org.scalatest.funsuite.AnyFunSuite

/** The settings [[GraftSession]] gives every session, read off its conf:
  * building one here would reconfigure the session other suites in this
  * JVM are using. */
class GraftSessionSpec extends AnyFunSuite {

  test("a session gets cpus threads and partitions, UTC, no UI and the tuned conf") {
    val c = GraftSession.conf()
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    assert(GraftSession.cpus == cpus)
    assert(c.get("spark.master") == s"local[$cpus]")
    assert(c.get("spark.sql.shuffle.partitions") == cpus.toString)
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.ui.enabled") == "false")
    assert(graft.promql.Engine.tunedConf.nonEmpty)
    graft.promql.Engine.tunedConf.foreach { case (k, v) => assert(c.get(k) == v, k) }
  }

  test("the codegen cache holds the full gate's working set") {
    // measured: a first pass of the 79 gate queries (sf0.01) compiles 942 classes
    val entries = GraftSession.conf().get("spark.sql.codegen.cache.maxEntries").toInt
    assert(entries >= 942, entries)
  }

  test("a deployment's master string keeps every other setting") {
    val c = GraftSession.conf("spark://host:7077")
    assert(c.get("spark.master") == "spark://host:7077")
    assert(c.get("spark.sql.shuffle.partitions") == GraftSession.cpus.toString)
    assert(c.get("spark.sql.session.timeZone") == "UTC")
  }

  test("no main builds its own session; the planner has no mutable threshold") {
    def sources(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) sources(f) else Seq(f).filter(_.getName.endsWith(".scala"))
      }
    def read(f: java.io.File) = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val main = sources(new java.io.File("src/main/scala"))
    assert(main.length > 100, "main sources not found")
    val builders = main.filter(f => f.getName != "GraftSession.scala" &&
      read(f).contains("SparkSession.builder")).map(_.getName)
    assert(builders.isEmpty, "build sessions through GraftSession")
    val planner = read(main.find(_.getName == "Planner.scala").get)
    val mutable = """@volatile|\bvar\s+\w*Ratio\b""".r.findAllIn(planner).toList
    assert(mutable.isEmpty, "regime thresholds belong in EvalParams")
  }
}
