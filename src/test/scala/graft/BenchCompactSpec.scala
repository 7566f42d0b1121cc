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
      s""""$longName":{"suite":9999.999,"quiesced":9999.999}""")
      .mkString("{", ",", "}")
    val acceptRecheck =
      """"accept_recheck":{"sf1_q1":9999.999,"sf1_q18":9999.999}"""
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
        s""""deadline_skipped":["$longName"],""" +
        s""""sf1_rotation":2"""
    Bench.compactParts(headline, adaptive, "32", 282,
      "bench_out/bench.json", failed, requeried, acceptRecheck, 99, floor,
      10, sf1, spill, load, budget, "/root/testdata/sf0.1")
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
