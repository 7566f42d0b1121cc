package graft

import org.scalatest.funsuite.AnyFunSuite

/** Budget assertion for the compact bench stdout line (VERDICT r18 item
  * 1): the r17 AND r18 compact lines shipped `"queries":{}` because the
  * fixed core had crept past the 1750-char harvester budget, leaving the
  * driver per-query-blind for two rounds. The core is now assembled from
  * CAPPED fragments ([[Bench.compactParts]]); this spec rebuilds every
  * fragment at its cap with maximal realistic content and asserts the
  * worst-case core still leaves ≥600 chars of budget for the slowest-row
  * entries — i.e. ≥10 rows always fit.
  *
  * The fragment shapes here mirror Bench.main's construction; if a field
  * is added to the compact core, add it here at its worst size too.
  */
class BenchCompactSpec extends AnyFunSuite {
  private val Budget = 1750
  private val ReservedForQueries = 600
  // longest declared row name (the realistic worst key width everywhere)
  private val longName = SparkEntry.queries.keys.maxBy(_.length)

  // every char escapes to two, so clipping before escaping ships 80
  private val WorstMessage = "\"\\" * 20

  private def worstCore: (String, String) = {
    val headline =
      """"value":9999.999,"timed_total":9999.999,"timed_n":282,""" +
        """"partial":false"""
    val adaptive =
      """"adaptive":{"single_run":282,"full_iters":282},"contended":false"""
    // failed: capped at 2 entries, + count; each message is one that
    // escaping doubles (quotes and backslashes), clipped by the real
    // fragment builder
    val failed = Bench.failedCompact(Seq.fill(99)(longName -> WorstMessage))
    // requeried: capped at 2 entries
    val requeried = Seq.fill(2)(
      s""""$longName":{"first":9999.999,"requery":9999.999}""")
      .mkString("{", ",", "}")
    val floor = """"floor":{"suite":9999.999,"sf1_q1":9999.999}"""
    // sf1: the 3 acceptance headliners + ran-count, never the full set
    val sf1 =
      """"sf1_q1":9999.999,"sf1_q18":9999.999,""" +
        """"sf1_dedup_semantic":9999.999,"sf1_ran":42"""
    val spill =
      """"spill_disk":999999999999,"spill_agg_disk":999999999999"""
    val load =
      """"load_avg":{"start":99.99,"end":99.99},""" +
        """"suite_vs_floor":99.999,"phases_contended":"8/8",""" +
        """"pre_quiesce_s":180"""
    val budget =
      s""""elapsed_s":9999.999,"deadline_skipped_n":999,""" +
        s""""deadline_skipped":["$longName"]"""
    Bench.compactParts(headline, adaptive, "32", 282,
      "bench_out/bench.json", failed, requeried, 99, floor,
      sf1, spill, load, budget, "/data/testdata/sf0.1")
  }

  test("worst-case fixed core leaves >=600 chars for per-query entries") {
    val (p, s) = worstCore
    val zeroEntryLen = (p + "{}" + s).length
    assert(zeroEntryLen <= Budget - ReservedForQueries,
      s"compact fixed core is $zeroEntryLen chars; must stay <= " +
        s"${Budget - ReservedForQueries} so the queries map never " +
        "ships empty again (the r17/r18 failure)")
  }

  test("fitCompact fits >=10 worst-width rows under the budget") {
    val (p, s) = worstCore
    val rows = (1 to 40).map(i => s"${longName}_$i" -> 9999.999)
    val line = Bench.fitCompact(p, s, rows, Budget)
    assert(line.length <= Budget, s"${line.length} > $Budget")
    val fitted = rows.count { case (k, _) => line.contains(s""""$k":""") }
    assert(fitted >= 10,
      s"only $fitted worst-width rows fit; the driver needs >=10")
    // the emitted line must be parseable JSON
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(line)
    assert(tree.path("queries").size() == fitted)
  }

  test("failure messages are clipped after escaping, on escape boundaries") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // a 39-char prefix leaves room for half of the trailing "\\" only
    for (msg <- Seq(WorstMessage, "a" * 39 + "\\", "a" * 38 + "\u0001",
                    "x" * 500)) {
      val frag = Bench.failedCompact(Seq("row" -> msg))
      val clipped = mapper.readTree(s"""{"failed":$frag}""")
        .path("failed").path("row").asText
      assert(Json.escape(clipped).length <= 40, frag)
      assert(msg.startsWith(clipped), frag)
    }
  }

  test("fitCompact degrades to zero entries, never exceeds the budget") {
    val (p, s) = worstCore
    val rows = (1 to 40).map(i => s"${longName}_$i" -> 9999.999)
    // a budget below even the zero-entry line: emit it anyway (the WARN
    // path in main), never truncate mid-JSON
    val tiny = Bench.fitCompact(p, s, rows, 10)
    assert(tiny == p + "{}" + s)
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(tiny)
    assert(parsed.path("queries").size() == 0)
  }
}

/** [[Bench.requeryCandidates]]: which first readings the one requery pass
  * re-measures.
  */
class BenchRequerySpec extends AnyFunSuite {
  import Bench.requeryCandidates

  private val floors = Map("a" -> 1.0, "b" -> 1.0, "tiny" -> 0.1,
    "sf1_q1" -> 1.0, "sf1_q18" -> 2.0)

  test("a row is a candidate only above the ratio and the noise floor") {
    // b sits exactly at the ratio; tiny is 2.9x its floor but under the
    // noise floor
    val first = Map("a" -> 1.6, "b" -> 1.5, "tiny" -> 0.29)
    assert(requeryCandidates(first, floors, contended = false) == Seq("a"))
    assert(Bench.NoiseFloorSec == 0.3 && Bench.OutlierRatio == 1.5)
  }

  test("at most RequeryCap outliers, worst ratio first") {
    val rows = (1 to 20).map(i => f"r$i%02d")
    val first = rows.zipWithIndex.map { case (k, i) => k -> (2.0 + i) }.toMap
    val got = requeryCandidates(first, rows.map(_ -> 1.0).toMap, contended = false)
    assert(Bench.RequeryCap == 8)
    assert(got == rows.reverse.take(8), got)
  }

  test("acceptance points are candidates whenever they ran, under the ratio too") {
    val first = Map("sf1_q1" -> 0.5, "sf1_q18" -> 2.0, "a" -> 5.0, "b" -> 1.0)
    assert(requeryCandidates(first, floors, contended = false) ==
      Seq("sf1_q1", "sf1_q18", "a"))
    // without a floor as well, and on top of the capped outliers
    val rows = (1 to 20).map(i => f"r$i%02d")
    val many = rows.map(_ -> 9.0).toMap + ("sf1_q1" -> 1.0)
    val got = requeryCandidates(many, rows.map(_ -> 1.0).toMap, contended = false)
    assert(got.head == "sf1_q1" && got.size == 1 + Bench.RequeryCap, got)
    // one that did not run is not requeried
    assert(!requeryCandidates(Map("a" -> 5.0), floors, contended = false)
      .exists(Bench.AcceptancePoints.contains))
  }

  test("a contended run requeries nothing") {
    val first = Map("sf1_q1" -> 9.0, "sf1_q18" -> 9.0, "a" -> 9.0)
    assert(requeryCandidates(first, floors, contended = true).isEmpty)
  }

  test("a row without a floor is never a candidate") {
    assert(requeryCandidates(Map("new_row" -> 100.0), floors, contended = false).isEmpty)
    assert(requeryCandidates(Map("a" -> 100.0), Map.empty, contended = false).isEmpty)
  }
}
