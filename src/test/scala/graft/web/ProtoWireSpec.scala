package graft.web

import graft.promql.{FHist, LabelMatcher, MatchOp}
import org.scalatest.funsuite.AnyFunSuite

/** The protobuf encoders' output is pinned byte for byte: the remote-write
  * and remote-read senders share one wire writer, and a receiver on the
  * other end must see exactly the bytes it saw before. */
class ProtoWireSpec extends AnyFunSuite {

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  private val m = Map("__name__" -> "m", "job" -> "a")
  private val samples = Seq(
    RemoteWrite.Sample(m, 1000L, 1.5, 500L),
    RemoteWrite.Sample(m, 2000L, -2.0, 500L),
    RemoteWrite.Sample(Map("__name__" -> "n"), 3000L, Double.PositiveInfinity),
    RemoteWrite.Sample(Map("__name__" -> "h"), 4000L, Double.NaN, 0L, Some(FHist(
      1, 0.001, 2.0, 9.0, 12.5, Seq(-1, 0, 3), Seq(1.0, 2.0, 3.0), Seq(2), Seq(1.0),
      Nil, 2))))
  private val meta: RemoteWrite.Meta = Map(
    "m" -> (("counter", "seconds", "Help text.")), "h" -> (("histogram", "", "")))

  test("remote-write and remote-read encoders emit the pinned bytes") {
    assert(hex(RemoteWrite.encodeV1(samples.filter(_.h.isEmpty))) ==
      "56500a1d0a0d0a085f5f6e616d655f5f12016e120c0900050118f07f10b8170a35361f00286d0a080a03" +
      "6a6f62120161152948f83f10e807120c0900000000000000c010d00f")
    assert(hex(RemoteWrite.encodeV2(samples, meta)) ==
      "e201f03c220022085f5f6e616d655f5f22016822016e22016d22036a6f62220161220a48656c70207465" +
      "78742e22077365636f6e64732a6b0a0201021a6111000001020822401901073c00002940200229fca9f1" +
      "d24d62503f3909142400404204080410015208091020f03f5a04080110025a0516046a18111609080400" +
      "4009084c0840700278a01f2a0208032a120a020103120c09091a30f07f10b8172a2d0a04010405061516" +
      "10f83f10e807150e3c00c010d00f30f4032a06080118072008")
    assert(hex(RemoteRead.encodeRequest(Seq(
      RemoteRead.Query(0L, 60000L, List(LabelMatcher("__name__", MatchOp.Eq, "m"),
        LabelMatcher("job", MatchOp.Re, "a.*"))),
      RemoteRead.Query(5L, 6L, List(LabelMatcher("x", MatchOp.NotRe, "")))), Seq(1, 0))) ==
      "3ae4100110000a25080010e0d4031a0f080012085f5f6e616d655f5f1a016d1a0c080212036a6f621a03" +
      "612e2a0a0d080510061a0708031201781a00")
    assert(hex(RemoteRead.encodeResponse(Seq(
      Seq(RemoteRead.Series(m, Seq((2000L, 2.0), (1000L, 1.0))),
        RemoteRead.Series(Map("__name__" -> "n"), Seq((3000L, -0.5)))),
      Seq.empty))) ==
      "5a800a560a350a0d0a085f5f6e616d655f5f12016d0a080a036a6f62120161120c0900050110f03f10e8" +
      "07150e18004010d00f0a1d363700006e151f18e0bf10b8170a00")
    assert(hex(RemoteRead.encodeChunkedBody(3L, Seq(
      m -> Seq(RemoteRead.Chunk(1000L, 2000L, 1, Array[Byte](1, 2, 3)))))) ==
      "0a280a0d0a085f5f6e616d655f5f12016d0a080a036a6f62120161120d08e80710d00f18012203010203" +
      "1003")
    assert(hex(RemoteRead.frame(Array[Byte](9, 8, 7))) == "03b4aaa892090807")
  }

  test("src/main has one protobuf reader and one varint writer, in ProtoWire") {
    val root = new java.io.File("src/main/scala")
    def sources(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.flatMap(f =>
        if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val files = sources(root)
    assert(files.length > 100, s"sources not found under ${root.getAbsolutePath}")
    def holders(pattern: scala.util.matching.Regex): Seq[String] = files.filter(f =>
      pattern.findFirstIn(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).nonEmpty)
      .map(_.getName)
    assert(holders("""class Reader\(buf: Array\[Byte\]""".r) == Seq("ProtoWire.scala"))
    assert(holders("""o\.write\(\(\(x & 0x7f\) \| 0x80\)""".r) == Seq("ProtoWire.scala"))
  }
}
