package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** Bench's sweep and record, driven by fake queries on a fake clock: no
  * Spark session, no data and no `System.exit`.
  */
class BenchSpec extends AnyFunSuite {
  private val Sf = "/data/sf0.1"
  private val Probed =
    """{"metric":"streaming_throughput","dedup_stream":{"rows":10,"secs":2.0,"rows_per_s":5}}"""

  /** Seconds since the fake process started; only the fake queries move it. */
  private final class Clock(var now: Double) {
    val read: () => Double = () => now
    /** A query whose successive draws take `secs`; a NaN draw throws. */
    def query(secs: Double*): () => Unit = {
      val draws = Iterator(secs: _*)
      () => {
        val s = draws.next()
        if (s.isNaN) throw new IllegalStateException("boom")
        now += s
      }
    }
  }

  private def report(): Path = Files.createTempFile("bench-spec", ".json")

  /** Runs the sweep and the probes; returns both stdout lines parsed, and the report parsed. */
  private def bench(clock: Clock, queries: Seq[(String, () => Unit)], deadlineS: Double = 1000,
                    iters: Int = 3, at: Path = report()): (JValue, JValue, JValue) = {
    val rec = new Bench.Record(Sf, 4, iters, at)
    val (full, summary) = Bench.run(queries, iters, deadlineS, clock.read, new Counters,
      () => (), rec, () => Probed)
    (parse(full), parse(summary), parse(new String(Files.readAllBytes(at), UTF_8)))
  }

  private def num(j: JValue): Double = j match {
    case JDouble(d) => d
    case JInt(i)    => i.toDouble
    case other      => fail(s"not a number: $other")
  }

  test("both stdout lines parse as JSON and hold the fields the driver reads") {
    val c = new Clock(5)
    val (full, summary, written) = bench(c, Seq(
      "a_min_of_three" -> c.query(2.0, 1.0, 1.5),
      "b_agree" -> c.query(1.0, 1.05),
      "c_once" -> c.query(0.5, 3.0, 0.6)), iters = 3)
    assert(full \ "metric" == JString("total"))
    assert(full \ "queries" == JObject("a_min_of_three" -> JDouble(1.0),
      "b_agree" -> JDouble(1.0), "c_once" -> JDouble(0.5)))
    // b stops on two draws within 10%; c's 3.0 after 0.5 does not agree
    assert((full \ "counters" \ "a_min_of_three" \ "draws") == JInt(3))
    assert((full \ "counters" \ "b_agree" \ "draws") == JInt(2))
    assert((full \ "counters" \ "c_once" \ "draws") == JInt(3))
    assert(num(full \ "counters" \ "a_min_of_three" \ "jobs") == 0)
    assert(full \ "errors" == JObject())
    assert(full \ "unmeasured" == JArray(Nil))
    assert(full \ "streaming" == parse(Probed))
    assert(written == full)
    assert(summary \ "metric" == JString("summary"))
    for (line <- Seq(full, summary)) {
      assert(num(line \ "value") == 2.5)
      assert(line \ "unit" == JString("sec"))
      assert(line \ "partial" == JBool(false))
      assert(line \ "cpus" == JInt(4))
      assert(line \ "iters" == JInt(3))
      assert(line \ "sf" == JString(Sf))
      assert(line \ "streaming" == parse(Probed))
    }
    assert(summary \ "n_queries" == JInt(3))
    assert(summary \ "n_errors" == JInt(0))
    assert((summary \ "slowest" \ "a_min_of_three") != JNothing)
    assert((summary \ "family_totals" \ "core") != JNothing)
  }

  test("a deadline already past measures nothing and says so") {
    val c = new Clock(2000)
    val names = Seq("a", "b", "c")
    val (full, summary, _) = bench(c, names.map(_ -> c.query(1.0)))
    assert(full \ "queries" == JObject())
    assert(full \ "unmeasured" == JArray(names.map(JString(_)).toList))
    assert(full \ "partial" == JBool(true))
    assert(summary \ "partial" == JBool(true))
    assert(summary \ "n_unmeasured" == JInt(3))
    assert(full \ "streaming" \ "skipped" == JBool(true))
  }

  test("a query that throws records -1 and its error, never a time") {
    val c = new Clock(0)
    val (full, summary, _) = bench(c, Seq(
      "fails_first" -> c.query(Double.NaN),
      "fails_second" -> c.query(1.0, Double.NaN),
      "fine" -> c.query(1.0, 1.0)))
    assert(full \ "queries" == JObject("fails_first" -> JDouble(-1.0),
      "fails_second" -> JDouble(-1.0), "fine" -> JDouble(1.0)))
    assert(full \ "errors" \ "fails_second" == JString("java.lang.IllegalStateException: boom"))
    assert((full \ "counters" \ "fails_second") == JNothing)
    assert(num(summary \ "value") == 1.0)
    assert(summary \ "n_errors" == JInt(2))
  }

  test("a query draws again only while the sweep is ahead of its even share") {
    // the sweep's budget is 1000 - RoomS; a_slow's first draw takes 60% of
    // it, past a_slow's 1/3 share, but still short of b_cheap's 2/3 share
    val c = new Clock(0)
    val budget = 1000 - Bench.RoomS
    val (full, _, _) = bench(c, Seq(
      "a_slow" -> c.query(0.6 * budget, 1.0),
      "b_cheap" -> c.query(1.0, 2.0, 3.0),
      "c_late" -> c.query(1.0, 1.0)))
    assert((full \ "counters" \ "a_slow" \ "draws") == JInt(1))
    assert((full \ "counters" \ "b_cheap" \ "draws") == JInt(3))
    assert(full \ "partial" == JBool(false))
  }

  test("no recorded value comes from the report already at the report path") {
    val at = report()
    val sentinels = Seq(123.456, 777.125, 4242.0)
    Files.write(at, (s"""{"metric":"total","value":${sentinels(2)},"unit":"sec",""" +
      s""""queries":{"a":${sentinels(0)},"b":${sentinels(1)}},"errors":{},""" +
      s""""streaming":{"dedup_stream":{"rows":1,"secs":1,"rows_per_s":${sentinels(2)}}},""" +
      s""""iters":3,"sf":"$Sf"}""" + "\n").getBytes(UTF_8))
    val c = new Clock(0)
    // b runs past the sweep's budget, so c is left unmeasured, not carried
    val (full, summary, written) = bench(c, Seq(
      "a" -> c.query(1.0, 1.0),
      "b" -> c.query(1000.0),
      "c" -> c.query(1.0)), at = at)
    def numbers(j: JValue): List[Double] = j match {
      case JDouble(d)     => List(d)
      case JInt(i)        => List(i.toDouble)
      case JObject(fs)    => fs.flatMap(f => numbers(f._2))
      case JArray(vs)     => vs.flatMap(numbers)
      case _              => Nil
    }
    for (line <- Seq(full, summary, written))
      assert(numbers(line).intersect(sentinels).isEmpty, line)
    assert(full \ "queries" == JObject("a" -> JDouble(1.0), "b" -> JDouble(1000.0)))
    assert(full \ "unmeasured" == JArray(List(JString("c"))))
    assert(written == full)
  }

  test("a streaming probe fed fewer rows than its warm-up still clocks rows; none clocked reports no rate") {
    val fed = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    var syncs = 0
    val (rows, secs) = Bench.warmThenClock(1 to 10, warmN = 1000, chunk = 3,
      (c: Seq[Int]) => fed += c, () => syncs += 1)
    // half the feed warms, the other half is clocked in 3-row triggers
    assert(fed.toSeq == Seq(1 to 5, 6 to 8, 9 to 10))
    assert(syncs == 3)
    assert(rows == 5 && secs >= 0)
    def rate(field: String): JValue = parse(s"{$field}") \ "g" \ "rows_per_s"
    assert(rate(Bench.probeField("g", rows, 0.5)) == JInt(10))
    // one row is clocked, not spent on the warm-up
    assert(Bench.warmThenClock(Seq(1), warmN = 1000, chunk = 3, (_: Seq[Int]) => (), () => ())._1 == 1)
    assert(rate(Bench.probeField("g", 0, 0.25)) == JInt(-1))
    assert(rate(Bench.probeField("g", 0, 0.0)) == JInt(-1))
  }
}
