package graft

import org.scalatest.funsuite.AnyFunSuite

/** The medians guardrail's choice of band record (pure string logic —
  * no Spark session).
  */
class BenchSpec extends AnyFunSuite {

  private val sf = "/data/sf0.1"
  private def record(sfDir: String, cpus: Option[Int], contended: Boolean) =
    s"""{"metric":"total","value":141.7,"unit":"sec","sf":"$sfDir",""" +
      cpus.fold("")(c => s""""spark_cpus":$c,""") +
      s""""contended":$contended,"queries":{"q1_agg":1.2}}"""

  test("band record: same sf and cpus, clean, is picked") {
    assert(Bench.isBandRecord(record(sf, Some(4), contended = false), sf, "4"))
  }

  test("band record: a same-sf record from a different cpu count is not picked") {
    assert(!Bench.isBandRecord(record(sf, Some(32), contended = false), sf, "4"))
    assert(!Bench.isBandRecord(record(sf, Some(4), contended = false), sf, "32"))
    // a prefix of the digits is not a match
    assert(!Bench.isBandRecord(record(sf, Some(32), contended = false), sf, "3"))
  }

  test("band record: other sf, contended, or no spark_cpus is not picked") {
    assert(!Bench.isBandRecord(record("/data/sf0.01", Some(4), contended = false), sf, "4"))
    assert(!Bench.isBandRecord(record(sf, Some(4), contended = true), sf, "4"))
    assert(!Bench.isBandRecord(record(sf, None, contended = false), sf, "4"))
  }
}
