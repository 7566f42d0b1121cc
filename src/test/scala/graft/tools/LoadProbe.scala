package graft.tools

/** Dev-only micro-probe for the Tables.load schema memo: times N
  * register-all passes (the per-row fixed cost every bench row pays)
  * with inference (spark.read.parquet) vs the memoized path
  * (Tables.load). Not part of the driver contract.
  */
object LoadProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n = args.drop(1).headOption.map(_.toInt).getOrElse(50)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.context.SessionContext.local(cpus, cpus).spark
    spark.sparkContext.setLogLevel("ERROR")
    // warm both paths once (classload, first footer read)
    graft.Tables.registerAll(spark, dir)
    graft.Tables.all.foreach(t =>
      spark.read.parquet(graft.Tables.path(dir, t)).schema)
    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      (1 to n).foreach(_ => f)
      println(f"$label: ${(System.nanoTime() - t0) / 1e6 / n}%.2f ms/pass " +
        s"(${graft.Tables.all.size} tables/pass, $n passes)")
    }
    time("inferred (spark.read.parquet)") {
      graft.Tables.all.foreach(t =>
        spark.read.parquet(graft.Tables.path(dir, t)).schema)
    }
    time("memoized  (Tables.load)      ") {
      graft.Tables.all.foreach(t => graft.Tables.load(spark, dir, t).schema)
    }
    spark.stop()
  }
}
