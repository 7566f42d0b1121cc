package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  // the factory installs graft's functions via spark.sql.extensions, so
  // HashExpressionsSpec can prove a fresh newSession() resolves them
  // with no register() call
  lazy val spark: SparkSession = context.SessionContext.local(8, 8).spark
  val sfDir = "/root/testdata/sf0.001"

  /** Temp dir recursively deleted when the test JVM exits — bare
    * `createTempDirectory` call sites accumulated parquet litter across
    * runs (ADVICE r6). A shutdown hook (not `deleteOnExit`, which only
    * removes EMPTY dirs) so test bodies stay linear, no try/finally.
    */
  def tempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(p.toFile)
    }))
    p.toString
  }
}

class TpchSpec extends AnyFunSuite {
  import SparkTestSession._

  // The reference's own CI integration set (rust/benchmarks/tpch/run.sh:6)
  // must produce rows even at the smallest SF.
  private val integrationSet =
    Set("tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q10", "tpch_q12")

  for ((name, fn) <- operators.Tpch.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sfDir)
      val n = df.count()
      if (integrationSet(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("tpch_q1 aggregates are consistent") {
    val rows = operators.Tpch.queries("tpch_q1")(spark, sfDir).collect()
    assert(rows.length == 6) // 3 returnflags x 2 linestatus
    rows.foreach { r =>
      val sumQty = r.getAs[Double]("sum_qty")
      val cnt = r.getAs[Long]("count_order")
      val avgQty = r.getAs[Double]("avg_qty")
      assert(math.abs(sumQty / cnt - avgQty) < 1e-9)
    }
  }

  test("every query has an oracle") {
    assert(operators.Tpch.queries.keySet == operators.Tpch.oracles.keySet)
  }
}
