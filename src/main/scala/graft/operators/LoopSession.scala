package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftaccess.rebind

/** Loop-scoped planning confs for the driver-side iteration loops
  * (graph PageRank/BFS/SSSP, [[Dedup.connectedComponents]]). Every frame
  * inside those loops is node- or edge-sized — the corpus-scale work
  * that derives the graph is done under the caller's settings before
  * the loop — so AQE's per-stage re-planning buys nothing and each of
  * its mini-jobs pays a full scheduling round-trip (measured ~11 AQE
  * jobs per PageRank round), and a corpus-wide shuffle width schedules
  * dozens of empty tasks per round. The loop therefore runs in a child
  * `newSession()` with AQE off and a static shuffle width; the caller's
  * session is never touched, so no conf has to be restored and a
  * concurrent query on the caller's session never sees the loop's.
  */
private[graft] object LoopSession {

  /** Runs `loop` in a child session of `s` with AQE off and
    * `spark.sql.shuffle.partitions = width`. `loop` gets the function
    * that rebinds its input frames to the child; its result comes back
    * bound to `s`, so what the caller builds on it plans under the
    * caller's settings again. Graft's functions reach the child only
    * through `spark.sql.extensions` (see `SessionContext.local`).
    */
  def static(s: SparkSession, width: Long)(
      loop: (DataFrame => DataFrame) => DataFrame): DataFrame = {
    val child = s.newSession()
    child.conf.set("spark.sql.adaptive.enabled", "false")
    child.conf.set("spark.sql.shuffle.partitions", width.toString)
    rebind(s, loop(rebind(child, _)))
  }
}
