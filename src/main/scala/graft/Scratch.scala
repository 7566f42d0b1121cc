package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** Build-once, read-many scratch layouts (materialized indexes, bucketed
  * copies, partitioned layouts, scale-up fixtures). The root is
  * configurable so operators are not tied to one checkout:
  * `spark.graft.scratch` conf, then `SPARK_GRAFT_SCRATCH` env, then
  * `./target/scratch`. Layouts are guarded by a `_BUILT` marker, a JVM
  * lock, and an atomic publish (build into a temp dir, rename into place),
  * so concurrent suites — in one JVM or across Bench/Verify/test
  * processes — either wait or observe a complete artifact, and later
  * sessions reuse it instead of rebuilding (the "index once, query many"
  * contract — at cluster scale these are table-format maintenance jobs,
  * not per-query work).
  */
object Scratch {

  /** Always absolute: table DDL (LOCATION) resolves relative paths against
    * the warehouse dir while file reads resolve against the process cwd —
    * an absolute root keeps every consumer pointing at the same files.
    */
  def root(s: SparkSession): String =
    java.nio.file.Paths.get(
      s.conf.getOption("spark.graft.scratch")
        .orElse(sys.env.get("SPARK_GRAFT_SCRATCH"))
        .getOrElse("target/scratch")
    ).toAbsolutePath.normalize.toString

  def sanitize(p: String): String = p.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Content fingerprint of the source files behind a layout, embedded in
    * its key: regenerated inputs get a fresh key and rebuild instead of
    * silently serving results from a stale artifact. 64-bit FNV-1a over
    * path:size:mtime:childCount per input (childCount distinguishes a
    * directory input whose file set changed inside one mtime tick) — a
    * 32-bit String.hashCode here had a realistic collision/stale-reuse
    * window; 64 bits over the same descriptor does not.
    */
  def fingerprint(paths: String*): String = {
    val desc = paths.map { p =>
      val f = new java.io.File(p)
      val kids = Option(f.listFiles()).map(_.length).getOrElse(0)
      s"$p:${f.length}:${f.lastModified}:$kids"
    }.mkString("|")
    f"${graft.functions.HashImpls.fnv1a(UTF8String.fromString(desc))}%016x"
  }

  private val lock = new Object

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Remove a scratch path entirely (for layouts that are rebuilt from
    * zero on every run rather than cached behind a `_BUILT` marker).
    */
  def purge(path: String): Unit = deleteRecursively(new java.io.File(path))

  /** `<root>/<name>_pid<pid>`: a tree private to this process, for rows
    * that rebuild their files on every run. A concurrent Verify, Bench or
    * test process on the same dataset gets its own tree, so wiping it at
    * row start can never race a sibling's in-flight run.
    */
  def pidDir(s: SparkSession, name: String): String =
    s"${root(s)}/${name}_pid${java.lang.ProcessHandle.current.pid}"

  /** Empties [[pidDir]] and returns it, first reaping the `<name>_pid*`
    * trees of dead processes, so repeated runs don't accumulate copies;
    * a live sibling's tree is never touched.
    */
  def freshPidDir(s: SparkSession, name: String): String = {
    val prefix = s"${name}_pid"
    Option(new java.io.File(root(s)).listFiles()).foreach(_.foreach { f =>
      if (f.getName.startsWith(prefix)) {
        val alive = f.getName.stripPrefix(prefix).toLongOption
          .exists(p => java.lang.ProcessHandle.of(p)
            .map[Boolean](_.isAlive).orElse(false))
        if (!alive) purge(f.getPath)
      }
    })
    val dir = pidDir(s, name)
    purge(dir)
    dir
  }

  /** Returns `<root>/<key>`, running `build(tmpDir)` first unless the
    * marker from a previous build is present. The build writes into a
    * process-private temp dir that is atomically renamed into place, so a
    * concurrent process never reads a half-built layout: it sees either
    * nothing (and builds its own temp copy — the loser of the publish race
    * discards) or the complete artifact.
    */
  def ensure(s: SparkSession, key: String)(build: String => Unit): String =
    lock.synchronized {
      val dir = s"${root(s)}/$key"
      val marker = new java.io.File(s"$dir/_BUILT")
      if (!marker.exists()) {
        val tmp = new java.io.File(
          s"$dir.tmp-${java.lang.ProcessHandle.current.pid}")
        deleteRecursively(tmp)
        tmp.mkdirs()
        build(tmp.getPath)
        java.nio.file.Files.writeString(
          new java.io.File(tmp, "_BUILT").toPath, "ok")
        try {
          java.nio.file.Files.move(tmp.toPath, java.nio.file.Paths.get(dir),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } catch {
          case e: java.nio.file.FileSystemException =>
            if (marker.exists()) {
              // lost a cross-process publish race to a COMPLETE artifact
              deleteRecursively(tmp)
            } else {
              // stale partial from a crashed pre-atomic build: replace it
              deleteRecursively(new java.io.File(dir))
              try java.nio.file.Files.move(tmp.toPath,
                java.nio.file.Paths.get(dir),
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              catch { case _: java.nio.file.FileSystemException =>
                if (marker.exists()) deleteRecursively(tmp) else throw e
              }
            }
        }
      }
      dir
    }
}
