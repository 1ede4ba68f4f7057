package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The harness plumbing the artifacts depend on, checked without a Spark
  * job: the one JSON string escaper behind `BENCH_LAST.json` and
  * `oracle_sql.json`, the steal arithmetic, and the shape of the entry
  * points (three mains, one session builder). */
class HarnessSpec extends AnyFunSuite {

  test("jsonString escapes quote, backslash and every control character, and parses back") {
    import Harness.jsonString
    assert(jsonString("a\"b\\c") === "\"a\\\"b\\\\c\"")
    assert(jsonString("\n\r\t") === "\"\\n\\r\\t\"")
    assert(jsonString("\u0000\u001f") === "\"\\u0000\\u001f\"")
    val controls = (0 until 0x20).map(_.toChar).mkString
    val inputs = Seq("", "plain", "SELECT 'x'\tFROM t\r\n", "naïve → ünïcödé",
      controls, "\"\\" + controls + "\\\"")
    val mapper = new ObjectMapper()
    inputs.foreach { s =>
      val out = jsonString(s)
      assert(!out.exists(_ < ' '), s"raw control character in $out")
      assert(mapper.readValue(out, classOf[String]) === s)
    }
  }

  test("stealPctOfUser is None for a zero user delta and for a missing sample") {
    import GraftSession.HostWeather.{json, stealPctOfUser}
    assert(stealPctOfUser(Some((5L, 100L)), Some((9L, 100L))) === None)
    assert(stealPctOfUser(None, Some((9L, 200L))) === None)
    assert(stealPctOfUser(Some((5L, 100L)), None) === None)
    assert(json(Some((5L, 100L)), Some((9L, 100L))) === "null")
    assert(stealPctOfUser(Some((0L, 0L)), Some((25L, 1000L))) === Some(2.5))
  }

  test("src/main has three mains, and SparkSession.builder() only inside GraftSession.builder") {
    val root = new java.io.File("src/main")
    assume(root.isDirectory)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val sources = files(root).filter(_.getName.endsWith(".scala")).map { f =>
      val src = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
      try f -> src.getLines().toVector finally src.close()
    }
    def code(l: String) = !Seq("*", "/*", "//").exists(l.trim.startsWith)
    def hits(token: String): Seq[(java.io.File, Int)] = sources.flatMap { case (f, lines) =>
      lines.indices.filter(i => lines(i).contains(token) && code(lines(i))).map(f -> _)
    }
    val mains = hits("def main(").map(_._1.getName).sorted
    assert(mains === Seq("Bench.scala", "Harness.scala", "Verify.scala"), mains)
    val builders = hits("SparkSession.builder()")
    assert(builders.map(_._1.getPath) === Seq("src/main/scala/graft/GraftSession.scala"),
      builders.mkString("\n"))
    val lines = sources.collectFirst { case (f, ls) if f == builders.head._1 => ls }.get
    val enclosing = lines.take(builders.head._2).reverse.find(l => code(l) && l.contains("def "))
    assert(enclosing.exists(_.contains("def builder(")), enclosing)
  }
}
