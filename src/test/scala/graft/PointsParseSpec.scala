package graft

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.io.Text

import graft.kmeans.PointsIO
import graft.sources.PointsLine

/** Differential test of the points reader's hand tokenizer against the
  * format's regex routine (kept here as the oracle, verbatim from the
  * reader before it was tokenized by hand): on every generated line both
  * give the same doubles bit for bit, or both throw. */
class PointsParseSpec extends SparkSessionSpec {

  private def oracle(line: String): Array[Double] =
    line.trim.replaceAll("[<>]", "").split(",\\s*")
      .map(java.lang.Double.parseDouble)

  private val rnd = new java.util.Random(5)
  private def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))

  private def number(): String = pick(
    () => java.lang.Double.toString(rnd.nextGaussian() * 1e3),
    () => f"${rnd.nextDouble() * 100}%.6f".replace(',', '.'),
    () => s"${pick("", "+", "-")}${rnd.nextInt(1000)}.${rnd.nextInt(1000)}",
    () => s"${rnd.nextInt(100)}${pick("e", "E")}${pick("", "+", "-")}${rnd.nextInt(300)}",
    () => java.lang.Double.toString(rnd.nextDouble() * 1e-300),
    () => pick("NaN", "Infinity", "-Infinity", "+Infinity", "-0.0", "0.0", "0",
      "1d", "2f", "0x1p3", ".5", "5.", "1e400"),
    () => pick("", " ", "oops", "1.2.3", "--1", "1e", "nan", "é"),
  )()

  private def space(): String = pick("", "", " ", "  ", "\t", " \t", "\u000b", "\f")

  private def line(): String = {
    val toks = Seq.fill(1 + rnd.nextInt(6))(number()).toBuffer
    // mid-token `<` or `>`
    if (rnd.nextInt(10) == 0) {
      val i = rnd.nextInt(toks.size)
      val t = toks(i)
      val at = rnd.nextInt(t.length + 1)
      toks(i) = t.take(at) + pick("<", ">") + t.drop(at)
    }
    val body = toks.map(t => space() + t + space()).mkString(",")
    // mostly the well-formed `<…>` shape; a quarter of each edge is off
    def often(usual: String, odd: String*) =
      if (rnd.nextInt(4) == 0) pick(odd: _*) else usual
    val tail = often("", ",", ", ", ",,", ", \t")
    val open = often("<", "", "<<", " <")
    val close = often(">", "", ">>", "> ")
    space() + open + body + tail + close + space()
  }

  private val lines =
    Seq("<>", "<,>", "< , >", "<,1>", "<1,,2>", "<1, >", "<1,\t>", "1, 2",
      "<1, 2", "1, 2>", "<1<, 2>", "<-0.0, NaN, Infinity>", "<é>",
      "< 1.0>", "<1.0\u0001, 2>", "< 1 , 2 >", "<1\t,\t2>", "<", ">", "<<>>",
      "<1, 2é>", "é<1>", "<1, 2>é", "<1,\u00a02>", "<\u00a01>") ++
      Seq.fill(5000)(line())

  private def bits(v: Array[Double]): Seq[Long] =
    v.map(java.lang.Double.doubleToRawLongBits).toSeq

  test("hand tokenizer == regex routine on generated lines, bit for bit or both throw") {
    var parsed = 0
    lines.foreach { l =>
      val text = new Text(l)
      if (l.trim.isEmpty) assert(PointsLine.isBlank(text), l)
      else {
        assert(!PointsLine.isBlank(text), l)
        (Try(oracle(l)), Try(PointsLine.parse(text))) match {
          case (Success(want), Success(got)) =>
            parsed += 1
            assert(bits(got) == bits(want), s"line '$l'")
          case (Failure(want), Failure(got)) =>
            assert(got.getClass == want.getClass && got.getMessage == want.getMessage,
              s"line '$l': $got vs $want")
          case (want, got) => fail(s"line '$l': oracle $want, reader $got")
        }
      }
    }
    // the generator must exercise both outcomes
    assert(parsed > 1000 && parsed < lines.size - 1000, s"$parsed parsed")
  }

  test("the scan emits the oracle's doubles for every parseable generated line") {
    val good = lines.filter(l => l.trim.nonEmpty && Try(oracle(l)).isSuccess)
    val dir = java.nio.file.Files.createTempDirectory("points_parse")
    val file = dir.resolve("pts.txt")
    java.nio.file.Files.write(file,
      (good :+ "").mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val df = PointsIO.readPoints(spark, file.toString)
    assert(df.rdd.getNumPartitions == 1)
    val got = df.collect().map(r => bits(r.getSeq[Double](0).toArray)).toSeq
    assert(got == good.map(l => bits(oracle(l))))
  }
}
