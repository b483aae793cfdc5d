package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's failure path: a sample child that prints no rate is a failed
  * pair (stderr kept, left out of every median), never a 0.0 rate. */
class BenchSpec extends AnyFunSuite {

  private def child(script: String) =
    Bench.childResult("test child", Seq("sh", "-c", script), Map("GRAFT_T" -> "x"))(Bench.parseRate)

  test("a child with no rate fails with its stderr kept; a rate line parses") {
    val failed = child("echo starting; echo boom $GRAFT_T >&2; exit 3")
    val err = failed.left.getOrElse(fail("a child without a rate line must fail"))
    try assert(new String(Files.readAllBytes(err), "UTF-8").contains("boom x"))
    finally Files.delete(err)
    assert(child("""echo '{"rate":12.5}'; echo noise >&2""") == Right(12.5))
  }

  test("failed pairs are left out of medians and efficiencies; none left prints null") {
    val ps = Bench.summarizePairs(
      Seq(Some(10.0), None, Some(12.0)), Seq(Some(36.0), Some(50.0), Some(48.0)),
      Seq(1.0, 1.0, 1.0))
    assert(ps.failedPairs == 1 && ps.cleanPairs == 2)
    assert(ps.rateA == 11.0 && ps.rateB == 42.0)
    assert(ps.pairEffs == Seq(0.9, 1.0))
    // too few clean pairs: every successful pair counts, failed ones still not
    val dirty = Bench.summarizePairs(Seq(Some(10.0), Some(20.0), None),
      Seq(Some(40.0), Some(60.0), Some(80.0)), Seq(1.0, 2.0, 1.0))
    assert(dirty.failedPairs == 1 && dirty.cleanPairs == 1)
    assert(dirty.pairEffs == Seq(1.0, 0.75) && dirty.rateA == 15.0 && dirty.rateB == 50.0)
    val none = Bench.summarizePairs(Seq(None), Seq(Some(5.0)), Seq(1.0))
    assert(none.failedPairs == 1 && none.pairEffs.isEmpty)
    assert(Bench.num(none.rateB) == "null" && Bench.num(42.04) == "42.0")
  }

  private val json = new ObjectMapper()
  private def geocodeLine(extra: Seq[(String, String)]) = Bench.jsonLine(
    Bench.pipeline("geocode"), Bench.summarizePairs(Seq(Some(10.0)), Seq(None), Seq(1.0)),
    1, 1, 10, "sf", extra)

  test("the early and the final headline lines parse as JSON with the same keys") {
    val early = json.readTree(geocodeLine(Bench.geocodeFields(Bench.NoSweep, Map.empty)))
    val last = json.readTree(geocodeLine(Bench.geocodeFields(
      Bench.Sweep("""{"a":1.500,"b":0.250}""", 1.75, 0.5),
      Map("docs_per_sec_indexed_4n" -> 10.0, "docs_per_sec_fat_4n" -> 20.0,
        "docs_per_sec_bucketed_4n" -> 30.0))))
    assert(early.isObject && last.isObject)
    assert(early.fieldNames.asScala.toList == last.fieldNames.asScala.toList)
    assert(early.get("queries").isObject && early.get("queries").size == 0)
    assert(early.get("docs_per_sec_fat_4n").isNull && early.get("total_query_sec").isNull)
    assert(last.get("queries").get("b").asDouble == 0.25 && last.get("docs_per_sec_fat_4n").asDouble == 20.0)
    assert(early.get("failed_pairs").asInt == 1 && early.get("value").isNull)
  }

  test("a failed index rate prints null, not NaN") {
    val failed = Bench.softRate("fat index")(throw new IllegalStateException("no grid"))
    assert(failed.isNaN && Bench.num(failed) == "null" && Bench.num(1.0 / 0) == "null")
    val line = json.readTree(geocodeLine(Bench.geocodeFields(Bench.NoSweep,
      Map("docs_per_sec_fat_4n" -> failed, "docs_per_sec_indexed_4n" -> 12.0))))
    assert(line.get("docs_per_sec_fat_4n").isNull)
    assert(line.get("docs_per_sec_indexed_4n").asDouble == 12.0)
  }

  test("an unknown SPARK_GRAFT_PIPELINE fails loudly and names the valid ones") {
    val e = intercept[IllegalArgumentException](Bench.pipeline("geocod"))
    assert(e.getMessage.contains("'geocod'") && e.getMessage.contains("curate, dedup, geocode"))
    assert(Bench.pipelines.keySet == Set("geocode", "curate", "dedup"))
  }
}
