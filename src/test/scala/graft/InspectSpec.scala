package graft

import java.nio.file.{Files, Paths}

import graft.tools.Inspect

/** Both `Inspect` modes on the shared session. `Inspect.main` stops the
  * session it builds, so the tests drive `Inspect.run`. */
class InspectSpec extends SparkSpec {

  test("plan writes the formatted and the AQE-final plan of an entry") {
    val dir = Files.createTempDirectory("inspect_plan").toString
    Inspect.run(spark, sf, Seq("plan", dir, "t", "pin_q1"))
    val text = Files.readString(Paths.get(dir, "pin_q1_t.txt"))
    assert(text.contains("== Physical Plan =="))
    assert(text.contains("== AQE-final executed plan =="))
    val aqeFinal = text.substring(text.indexOf("== AQE-final executed plan =="))
    assert(aqeFinal.contains("isFinalPlan=true"))
  }

  test("prof prints the warm pass header and the exchange census") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Inspect.run(spark, sf, Seq("prof", "pin_q1")))
    val text = out.toString("UTF-8")
    assert(text.contains("==== pin_q1 wall="))
    assert(text.contains("plan: exchanges="))
    assert(text.contains("pins: builds="))
  }

  test("prof counts the one pin an entry builds and attributes its jobs") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Inspect.run(spark, sf, Seq("prof", "ann_ivfpq_rerank")))
    val pins = out.toString("UTF-8").linesIterator.find(_.contains("pins: builds="))
    val m = """pins: builds=(\d+) bytes=(\d+) jobs=(\d+)""".r.findFirstMatchIn(pins.get).get
    assert(m.group(1) == "1", pins.get)
    assert(m.group(2).toLong > 0 && m.group(3).toInt >= 1, pins.get)
  }

  test("an unknown mode is rejected with the usage text") {
    val e = intercept[IllegalArgumentException](
      Inspect.run(spark, sf, Seq("dump", "pin_q1")))
    assert(e.getMessage == Inspect.usage)
  }
}
