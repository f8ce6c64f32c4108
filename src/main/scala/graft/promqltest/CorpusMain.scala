package graft.promqltest

/** Dev loop: run reference .test corpus files against the engine.
  * Usage: runMain graft.promqltest.CorpusMain [file|all] [-v]
  */
object CorpusMain {
  val corpusDir = "/root/reference/promql/promqltest/testdata"

  def main(args: Array[String]): Unit = {
    val verbose = args.contains("-v")
    val files = args.filterNot(_ == "-v").toList match {
      case Nil | List("all") =>
        new java.io.File(corpusDir).listFiles().filter(_.getName.endsWith(".test"))
          .map(_.getPath).sorted.toList
      case fs => fs.map(f => if (f.contains("/")) f else s"$corpusDir/$f")
    }
    val spark = graft.GraftSession()

    var tp = 0; var tf = 0; var ts = 0
    files.foreach { f =>
      val r = Runner.runFile(spark, f)
      println(r.summary)
      tp += r.passed; tf += r.failed; ts += r.skipped
      if (verbose) {
        r.results.filterNot(_.ok).filterNot(_.skipped).take(200).foreach { er =>
          println(s"  FAIL L${er.line}: ${er.expr.take(90)}\n    ${er.detail.take(300)}")
        }
        r.results.filter(_.skipped).take(8).foreach { er =>
          println(s"  SKIP L${er.line}: ${er.expr.take(60)} — ${er.detail.take(200)}")
        }
      }
    }
    println(s"TOTAL: $tp passed, $tf failed, $ts skipped")
    spark.stop()
  }
}
