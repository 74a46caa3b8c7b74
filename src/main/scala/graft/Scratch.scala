package graft
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Scratch-space selection for the single-node harness mains.
  *
  * The sandbox's `/tmp` lives on the VM disk, which is throttled and
  * shared with other tenants — IO pressure stalls there were measured
  * turning sub-second queries into minute-long ones. `/dev/shm` is a
  * 126 GiB tmpfs: putting Spark's `local.dir` (shuffle files, spills)
  * and the dump-and-verify artifact parquet there keeps the bench and
  * the correctness gate off the contended disk entirely, the same way a
  * real cluster provisions dedicated local SSDs for shuffle. The
  * library itself (GraftEngine) does NOT set `spark.local.dir` — that
  * is a deployment decision; only the harness mains (Bench / Verify /
  * ProfQ / Explain, via Bench.session, and GenData) opt in.
  *
  * Cleanup discipline (tmpfs is RAM; Spark only removes its own
  * `spark-<uuid>` subdirs): [[localDir]] dirs (shuffle/spill) are
  * deleted by a JVM shutdown hook — nothing reads them after the
  * process. [[persistentDir]] dirs (oracle artifacts) MUST survive
  * their producing JVM — the driver runs Verify to completion and only
  * then reads the dumped parquet from DuckDB — so they are instead
  * reaped on the NEXT harness startup: any `graft-*-<pid>` dir whose
  * pid is no longer alive is stale by construction (pid-unique names)
  * and gets deleted before the new run allocates.
  */
object Scratch {
  /** Fastest writable scratch base: tmpfs when present, else the JVM
    * temp dir (portable fallback for non-Linux dev boxes).
    */
  lazy val base: String = {
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) "/dev/shm"
    else System.getProperty("java.io.tmpdir")
  }

  private val issued = scala.collection.mutable.Set.empty[String]

  private lazy val hookInstalled: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      issued.synchronized(issued.toList).foreach { d =>
        try deleteRecursively(Paths.get(d)) catch { case _: Throwable => () }
      }
    }, "graft-scratch-cleanup"))
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => try Files.deleteIfExists(f) catch { case _: Throwable => () })
      finally s.close()
    }

  /** Delete graft-* dirs left by DEAD processes (the pid suffix names
    * the owner). Safe with concurrent runs: a live pid is never
    * touched; per-file failures are swallowed (another reaper may be
    * racing on the same stale dir).
    */
  /** Name of the ownership marker dropped into every dir Scratch
    * issues: the reaper deletes ONLY marked dirs, so an
    * externally-managed directory that happens to match the
    * graft-<tag>-<digits> shape (e.g. a caller-set
    * SPARK_GRAFT_ARTIFACT_DIR another process still reads) is never
    * reaped out from under its owner.
    */
  private val OwnerMarker = ".graft-scratch"

  private lazy val staleReaped: Unit = {
    val baseDir = Paths.get(base)
    val pat = java.util.regex.Pattern.compile("graft-.*-(\\d+)")
    try {
      val s = Files.list(baseDir)
      try s.forEach { p =>
        val m = pat.matcher(p.getFileName.toString)
        if (m.matches() && Files.exists(p.resolve(OwnerMarker))) {
          val alive = try ProcessHandle.of(m.group(1).toLong)
            .map[Boolean](_.isAlive).orElse(false)
          catch { case _: Throwable => true } // unparseable: leave it
          if (!alive) try deleteRecursively(p) catch { case _: Throwable => () }
        }
      } finally s.close()
    } catch { case _: Throwable => () }
  }

  /** Create the dir eagerly and mark it as Scratch-owned (see
    * [[OwnerMarker]]); failures are non-fatal — an unmarked dir is
    * merely never reaped.
    */
  private def marked(d: String): String = {
    try {
      Files.createDirectories(Paths.get(d))
      Files.writeString(Paths.get(d, OwnerMarker), "")
    } catch { case _: Throwable => () }
    d
  }

  /** Per-process-unique scratch dir (pid suffix, same isolation story as
    * SparkEntry.artifactRoot): concurrent runs never share shuffle dirs,
    * and this process deletes its own dirs on exit.
    *
    * The `-l-` kind discriminator keeps the shutdown-deleted namespace
    * DISJOINT from [[persistentDir]]'s: without it, localDir(tag) and
    * persistentDir(tag) returned the same path, so one same-JVM
    * localDir call with a persistent tag would register the
    * oracle-artifact dir for shutdown deletion and the driver's
    * post-exit DuckDB pass would read an empty dir.
    */
  def localDir(tag: String): String = {
    staleReaped
    hookInstalled
    val d = s"$base/graft-l-$tag-${ProcessHandle.current().pid()}"
    issued.synchronized(issued += d)
    marked(d)
  }

  /** Per-process-unique dir that OUTLIVES this JVM (oracle artifacts the
    * driver's DuckDB pass reads after Verify exits). Reaped as stale by
    * the next harness process once this pid dies. Kind-disjoint from
    * [[localDir]] — see there.
    */
  def persistentDir(tag: String): String = {
    staleReaped
    marked(s"$base/graft-p-$tag-${ProcessHandle.current().pid()}")
  }
}
