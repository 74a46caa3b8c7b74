package graft.operators

import graft.ProductSchema
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.atomic.AtomicReference
import scala.util.Try

/** Parquet-backed product table with atomic overwrite.
  *
  * The reference's transactional guarantee is a single Postgres commit at
  * the end of a batch — any failure rolls everything back
  * (ingestion/service.py:56-64,108). Plain parquet has no MERGE or
  * transactions, so this store uses a versioned-directory scheme with a
  * current-pointer file (the core idea behind table-format transaction
  * logs, in miniature):
  *
  *   root/CURRENT            — text file naming the live version directory
  *   root/versions/v-<n>/    — immutable, complete table versions
  *
  * A writer builds a NEW version directory (invisible to readers), then
  * publishes it by atomically replacing CURRENT. Readers resolve CURRENT
  * once and scan an immutable directory — there is NO window in which the
  * table path does not exist (the two-rename swap this replaces had one),
  * and a crash mid-build leaves only an unpublished orphan directory that
  * the next publish garbage-collects. Old versions are retained
  * (`keepVersions`) so in-flight readers of a just-replaced version still
  * see complete data; production retention would be time-based.
  *
  * Scale design: the table is written `partitionBy(client_id)` so tenant
  * scoped reads prune to one partition, and [[overwriteClientAtomic]]
  * rewrites ONLY the ingesting client's partition — every other tenant's
  * files are HARD-LINKED into the new version (same inodes, zero copy,
  * byte-identical). For the single-giant-tenant regime, `skuBuckets`
  * splits each tenant into sku-hash bucket subdirectories and
  * [[overwriteClientBucketsAtomic]] narrows the rewrite further to the
  * buckets a batch actually touches — a MB-scale batch against a TB-
  * scale tenant relinks everything else. On a real deployment this
  * store is the place to swap in a table format with MERGE and a
  * transaction log (Delta/Iceberg) — the operator semantics above it do
  * not change.
  *
  * Write side: each write method is its staging and validation plus
  * ONE call of [[publishVersion]], the only place a version is built
  * and the only caller of [[publish]]. Under the write lock it
  * hard-links the live version minus the paths the write replaces,
  * moves the staged rows in, writes the ingest marker and publishes. A
  * build that throws deletes its unpublished version directory before
  * the error propagates (an orphan would sort newest and hold a
  * `keepVersions` slot), and [[withStaging]] deletes the staging
  * directory in a `finally`, so a failed write leaves the root as it
  * found it.
  *
  * Concurrency: every version BUILD (it derives from CURRENT) plus the
  * publish itself runs under a per-root write
  * lock — a JVM monitor nested inside an OS file lock, so both threads in
  * one process and separate processes serialize. Without it, two
  * concurrent tenant ingests would each link the SAME starting version
  * and the second publish would silently drop the first tenant's
  * just-committed partition (the reference gets this serialization for
  * free from Postgres transactions). The expensive Spark staging write
  * stays OUTSIDE the lock; only the link-and-publish section (driver-side
  * metadata work, milliseconds) is serialized, so tenant ingests still
  * overlap on the cluster.
  *
  * Read side: every read ([[read]], [[readClient]], [[readClientBuckets]])
  * goes through ONE resolved relation per published version, keyed by
  * the version directory CURRENT names. Each call still reads CURRENT;
  * only when it names a different directory than the cached entry is the
  * version resolved again (its files listed once) and the entry
  * replaced. The key can never be stale: a version directory is
  * immutable from publish until GC, GC never deletes the live one, and
  * any publish (this instance, another instance on the root, another
  * process) changes what CURRENT names, so the very next call misses.
  * Two threads racing on a miss at worst install an older entry, which
  * costs one extra resolution, never a wrong answer. Tenant and bucket
  * predicates are partition filters pruned over the cached listing. The
  * hit rate follows the read/publish ratio: the benchmark's serving mix
  * makes ~19 list calls per upload publish, so ~95% of list calls hit.
  */
class ProductStore(spark: SparkSession, root: String, keepVersions: Int = 3,
    override val skuBuckets: Option[Int] = None)
    extends ProductBackend {

  skuBuckets.foreach(n => require(n > 0, s"skuBuckets must be positive: $n"))

  private val currentPtr = Paths.get(root, "CURRENT")
  private val versionsDir = Paths.get(root, "versions")
  private val layoutPtr = Paths.get(root, "_layout")

  /** The bucket layout is ON-DISK state, not a per-open choice: stamped
    * at first publish and VERIFIED on every open of an existing root —
    * reopening with a different bucket count would silently route skus
    * to buckets the merge never reads (duplicate rows, no error), and
    * toggling bucketing over existing data mixes leaf depths. A root
    * that predates stamping (has CURRENT, no _layout) is by
    * construction unbucketed.
    */
  private def layoutTag: String = skuBuckets.fold("buckets=none")(n => s"buckets=$n")

  private def verifyLayout(): Unit = {
    if (Files.exists(layoutPtr)) {
      val stamped = Files.readString(layoutPtr).trim
      require(stamped == layoutTag,
        s"store at $root was written with layout '$stamped'; refusing to open " +
          s"it as '$layoutTag' — bucket layout is fixed at table creation")
    } else if (Files.exists(currentPtr)) {
      require(skuBuckets.isEmpty,
        s"store at $root predates bucket layouts (unbucketed); refusing to " +
          s"open it as '$layoutTag'")
    }
  }
  verifyLayout()

  /** Called under the write lock before every publish: stamps a fresh
    * root, re-verifies an existing one (a concurrent writer with a
    * different layout must fail before it can publish).
    */
  private def stampLayout(): Unit = {
    verifyLayout()
    if (!Files.exists(layoutPtr)) {
      Files.createDirectories(Paths.get(root))
      Files.writeString(layoutPtr, layoutTag)
      ()
    }
  }

  /** Physical layout columns: with [[skuBuckets]] each tenant partition
    * splits into `_bucket=<pmod(hash(sku), n)>` subdirectories, so a
    * batch can replace just the buckets its skus hash into
    * ([[overwriteClientBucketsAtomic]]) and tenant reads can prune to
    * them ([[readClientBuckets]]). The bucket column is layout-only:
    * it never leaves the store (dropped on read).
    */
  private val partitionCols: Seq[String] =
    if (skuBuckets.isDefined) Seq("client_id", ProductStore.BucketCol)
    else Seq("client_id")

  private val storedSchema =
    skuBuckets.fold(ProductSchema.CLIENT_PRODUCTS_SCHEMA)(_ =>
      ProductSchema.CLIENT_PRODUCTS_SCHEMA
        .add(ProductStore.BucketCol, org.apache.spark.sql.types.IntegerType))

  /** The ONE definition of the monitor-wrapped OS file lock both store
    * locks use: the JVM monitor orders threads in this process, the file
    * lock orders separate processes, and the monitor MUST wrap the file
    * lock (the JVM throws OverlappingFileLockException instead of
    * queueing when two threads of one process lock the same file). NOT
    * re-entrant: a thread already holding a lock file must not
    * re-acquire it — the second FileChannel.lock() throws.
    */
  private def withFileLock[T](monitor: Object, lockFile: String)(body: => T): T =
    monitor.synchronized {
      Files.createDirectories(Paths.get(root))
      val ch = FileChannel.open(Paths.get(root, lockFile),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lk = ch.lock()
        try body finally lk.release()
      } finally ch.close()
    }

  /** Serialize read-CURRENT -> build-version -> publish. The JVM monitor
    * (per canonical root) orders threads in this process; the OS file
    * lock ([[FileChannel#lock]] blocks until acquired) orders separate
    * writer processes. The monitor must wrap the file lock: the JVM
    * throws OverlappingFileLockException instead of queueing when two
    * threads of one process lock the same file.
    */
  private def withWriteLock[T](body: => T): T =
    withFileLock(ProductStore.jvmLocks.computeIfAbsent(
      Paths.get(root).toAbsolutePath.normalize.toString, _ => new Object),
      "_write.lock")(body)

  def exists: Boolean = currentVersion.isDefined

  /** Cross-PROCESS same-client ingest serialization via [[withFileLock]]
    * on `_ingest_<client>.lock`: without the file lock, two processes
    * ingesting the same client each read the same starting state and the
    * second publish silently discards the first's merge — the reference
    * gets this from Postgres row locks (ingestion/service.py:92-106).
    * Different clients use different lock files, so cross-tenant ingests
    * never serialize here.
    */
  override def withIngestLock[T](clientId: Int)(body: => T): T =
    withFileLock(ProductStore.ingestLocks.computeIfAbsent(
      (Paths.get(root).toAbsolutePath.normalize.toString, clientId),
      _ => new Object),
      s"_ingest_$clientId.lock")(body)

  private def currentVersion: Option[Path] =
    if (Files.exists(currentPtr))
      Some(versionsDir.resolve(Files.readString(currentPtr).trim))
    else None

  /** The resolved relation of the last version read (see the class doc).
    * `raw` keeps the layout bucket column (bucketed stores), so bucket
    * filters can prune before it is dropped; `view` is the caller-facing
    * schema without it.
    */
  private case class Resolved(dir: Option[Path], raw: DataFrame, view: DataFrame)

  private val resolved = new AtomicReference[Resolved]()

  /** The live version's resolved relation: reuse the cached one when
    * CURRENT still names its directory, otherwise resolve (list the
    * version's files once) and replace the entry.
    */
  private def resolveCurrent(): Resolved = {
    val dir = currentVersion
    val cached = resolved.get()
    if (cached != null && cached.dir == dir) cached
    else {
      val raw = dir match {
        case Some(d) => spark.read.schema(storedSchema).parquet(d.toString)
        case None => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], storedSchema)
      }
      val fresh = Resolved(dir, raw, raw.drop(ProductStore.BucketCol))
      resolved.set(fresh)
      fresh
    }
  }

  def read(): DataFrame = resolveCurrent().view

  /** Read only one client's partition: the `client_id` predicate is a
    * partition filter, so the scan prunes to that tenant's files over
    * the cached listing of the live version.
    */
  def readClient(clientId: Int): DataFrame =
    read().filter(col("client_id") === clientId)

  /** Pruned tenant read: `client_id=X/_bucket=B` directories only (both
    * filters are partition predicates — the scan prunes to those dirs
    * over the cached listing). Whole-tenant fallback on an unbucketed
    * store.
    */
  override def readClientBuckets(clientId: Int, buckets: Seq[Int]): DataFrame =
    skuBuckets match {
      case Some(_) =>
        resolveCurrent().raw
          .filter(col("client_id") === clientId &&
            col(ProductStore.BucketCol).isin(buckets: _*))
          .drop(ProductStore.BucketCol)
      case None => readClient(clientId)
    }

  /** Write a full new table version and atomically publish it. Used for
    * whole-table operations; per-client batches should use
    * [[overwriteClientAtomic]] so one tenant's MB-scale upload does not
    * rewrite every other tenant's files. Replaces the whole version, so
    * it discards every marker (see [[ProductBackend.hasMarker]]).
    */
  def overwriteAtomic(df: DataFrame): Unit =
    withStaging(df)(tmp => publishVersion(Set(""), Some(tmp -> "")))

  /** Write `df` (aligned, partitioned like the live table) to a fresh
    * `_staging_*` prefix, run `build` on it, and delete it in a
    * `finally`, so a failed staging write, an abort and a failed build
    * leave no staging behind. The Spark write runs here, OUTSIDE the
    * write lock. Staging sits OUTSIDE versions/: a build written
    * directly into versions/ is visible to a concurrent publisher's
    * gc(), which can delete the in-progress unpublished directory once
    * enough newer versions exist — the staging prefix is never
    * gc-listed, and the move into versions/ happens under the lock.
    */
  private def withStaging(df: DataFrame)(build: Path => Unit): Unit = {
    val tmp = Paths.get(root, s"_staging_${uniqueTag()}")
    try {
      align(df).write
        .mode(SaveMode.Overwrite)
        .partitionBy(partitionCols: _*)
        .parquet(tmp.toString)
      build(tmp)
    } finally Try(deleteRecursively(tmp))
  }

  /** `clientId`'s partition in staging `tmp`, as a path relative to the
    * staging (and version) root. The empty-staging ABORT is shared
    * policy: a df with no rows for the client must never silently wipe
    * live data.
    */
  private def stagedPartition(tmp: Path, clientId: Int): String = {
    val part = s"client_id=$clientId"
    if (!Files.exists(tmp.resolve(part)))
      throw new IllegalStateException(
        s"staged batch contains no rows for client_id=$clientId — refusing to " +
          "replace the live partition (use truncateClient for deliberate truncation)")
    part
  }

  /** Replace ONLY `client_id=clientId`'s partition with the given rows
    * (all rows must belong to that client). Every other client's files
    * are hard-linked into the new version — byte-identical (same inodes)
    * across another tenant's ingest. `marker` commits an ingest token
    * ATOMICALLY with the data (see [[writeMarker]]).
    *
    * An empty staged partition is an ABORT, not a truncate: a df with no
    * rows for this client (empty input, or rows carrying another
    * client_id) would otherwise silently wipe the tenant's data. Explicit
    * truncation is a separate, deliberate operation ([[truncateClient]]).
    */
  def overwriteClientAtomic(
      clientId: Int, df: DataFrame, marker: Option[String] = None): Unit = {
    validateMarker(marker)
    withStaging(df) { tmp =>
      val part = stagedPartition(tmp, clientId)
      publishVersion(Set(part), Some(tmp -> part), marker)
    }
  }

  /** Replace ONLY the named sku-hash buckets of `clientId`'s partition
    * with the given rows — the sub-tenant form of
    * [[overwriteClientAtomic]]: a small batch against a huge tenant
    * rewrites the few `_bucket=B` directories its skus hash into while
    * every other bucket (and every other tenant) hard-links forward
    * untouched. Same all-or-nothing + marker contract.
    *
    * Fails loud if any staged row hashes OUTSIDE `buckets`: replacing
    * only the declared buckets would silently drop that row — the
    * caller's merge scope and the declared set must agree.
    */
  override def overwriteClientBucketsAtomic(clientId: Int, buckets: Seq[Int],
      df: DataFrame, marker: Option[String] = None): Unit =
    skuBuckets match {
      case None => overwriteClientAtomic(clientId, df, marker)
      case Some(n) =>
        require(buckets.nonEmpty, "no buckets declared")
        require(buckets.forall(b => b >= 0 && b < n),
          s"bucket ids must be in [0, $n): ${buckets.mkString(",")}")
        validateMarker(marker)
        withStaging(df) { tmp =>
          val part = stagedPartition(tmp, clientId)
          val declared = buckets.map(b => s"${ProductStore.BucketCol}=$b").toSet
          val staged = children(tmp.resolve(part)).map(_.getFileName.toString)
          // declared and staged must agree EXACTLY: a staged row outside
          // the declared set would be silently dropped by the replace, and
          // a declared bucket with no staged rows would be silently
          // TRUNCATED (excluded from carry-forward, nothing moved in) —
          // the bucket-granular form of the empty-staging wipe the
          // whole-partition path aborts on.
          val stray = staged.filterNot(declared.contains)
          val truncating = declared -- staged.toSet
          if (stray.nonEmpty || truncating.nonEmpty)
            throw new IllegalStateException(
              if (stray.nonEmpty)
                s"staged rows hash outside the declared buckets ($stray vs " +
                  s"$declared) — replacing only the declared set would drop them"
              else
                s"declared buckets received no staged rows ($truncating) — " +
                  "replacing them would truncate live data (shrink the declared set)")
          publishVersion(declared.map(b => s"$part/$b"), Some(tmp -> part), marker)
        }
    }

  /** Deliberately remove one client's partition (the explicit form of
    * what a silently-empty staged batch must never do).
    */
  def truncateClient(clientId: Int): Unit =
    publishVersion(Set(s"client_id=$clientId"))

  /** Plain append (insert-only ingest without merge): new version =
    * hard links to every current file + the newly written files.
    */
  def append(df: DataFrame): Unit =
    withStaging(df)(tmp => publishVersion(Set.empty, Some(tmp -> "")))

  /** THE version build every write goes through. Under the write lock:
    * hard-link the live version into a new version directory, minus the
    * `replaced` paths (relative to the version root; "" is the root
    * itself, so `Set("")` carries nothing forward); move `staged` in —
    * a staging root and the relative path of the subtree to take, which
    * lands at the same relative path (staging is partitioned like the
    * table); write `marker`; publish. Carry-forward by hard link makes
    * every earlier marker ride the new version too.
    *
    * A build that throws — before or inside [[publish]], e.g. the
    * layout re-check of a concurrent writer with another layout —
    * deletes its unpublished directory before the error propagates: a
    * half-built version would sort newest and hold a retention slot.
    */
  private def publishVersion(replaced: Set[String],
      staged: Option[(Path, String)] = None, marker: Option[String] = None): Unit =
    withWriteLock {
      val name = newVersionName()
      val target = versionsDir.resolve(name)
      try {
        Files.createDirectories(target)
        currentVersion.filter(Files.exists(_)).foreach(linkTree(_, target, replaced))
        staged.foreach { case (tmp, rel) => mergeMove(tmp.resolve(rel), target.resolve(rel)) }
        writeMarker(target, marker)
        publish(name)
      } catch {
        case e: Throwable =>
          Try(if (!currentVersion.contains(target)) deleteRecursively(target))
          throw e
      }
    }

  private def validateMarker(marker: Option[String]): Unit =
    marker.foreach(ProductBackend.validateMarkerToken)

  /** Write the ingest token INTO the version dir (under `_markers/`, a
    * `_`-prefixed name Spark's file listing ignores) BEFORE the CURRENT
    * swap — the token is visible iff this publish is live, and
    * hard-link carry-forward propagates earlier tokens through every
    * later version (see [[ProductBackend.overwriteClientAtomic]]).
    */
  private def writeMarker(target: Path, marker: Option[String]): Unit =
    marker.foreach { token =>
      val dir = target.resolve(MarkersDir)
      Files.createDirectories(dir)
      val f = dir.resolve(token)
      if (!Files.exists(f)) Files.createFile(f)
      ()
    }

  private val MarkersDir = "_markers"

  /** Marker probe against the LIVE version only — a token whose publish
    * lost the CURRENT swap (crash before publish) is invisible, exactly
    * the contract replay dedup needs.
    */
  override def hasMarker(token: String): Boolean =
    currentVersion.exists(v => Files.exists(v.resolve(MarkersDir).resolve(token)))

  /** Retire committed markers failing `keep` in ONE atomic publish that
    * carries everything else forward — bounding the O(live tokens) link
    * cost every later publish pays (see [[ProductBackend.retireMarkers]]
    * for the caller-owned safety argument). No-op without a publish
    * when nothing would drop, so an amortized caller (retire every K
    * batches) never churns versions. The drop set is read from the live
    * version like any read (retention covers a concurrent publish); a
    * token committed after that read is not in it and carries forward.
    */
  override def retireMarkers(keep: String => Boolean): Unit = {
    val dropped = currentVersion.map(_.resolve(MarkersDir)).filter(Files.isDirectory(_))
      .toSeq.flatMap(children).map(_.getFileName.toString).filterNot(keep)
    if (dropped.nonEmpty) publishVersion(dropped.map(t => s"$MarkersDir/$t").toSet)
  }

  /** Collision-proof unique tag for staging/version/pointer names.
    * nanoTime alone is NOT unique under concurrency (two threads can
    * draw the same reading — observed: two concurrent tenant writers
    * staged into the SAME `_staging_<t>` dir and one job's commit
    * deleted the other's in-flight `_temporary/0`). The zero-padded
    * nanoTime prefix keeps names lexicographically time-ordered (the
    * GC's retention sort relies on that); the UUID suffix makes them
    * unique by construction across threads AND processes.
    */
  private def uniqueTag(): String =
    f"${System.nanoTime()}%019d-${java.util.UUID.randomUUID().toString.substring(0, 8)}"

  /** Version names must sort by CREATION ORDER — gc retention keeps the
    * lexicographically-latest `keepVersions`. nanoTime is not monotone
    * across reboots or hosts (a shared store root would otherwise see
    * every new version rank BELOW pre-reboot ones and get gc'd on the
    * next publish while ancient versions survive forever), so the
    * prefix clamps to strictly above the existing maximum. Called only
    * under the write lock, so the read-max-then-allocate is atomic.
    */
  private def newVersionName(): String = {
    val floor =
      if (!Files.exists(versionsDir)) 0L
      else children(versionsDir)
        .flatMap(p => Try(p.getFileName.toString.stripPrefix("v-").take(19).toLong).toOption)
        .maxOption.map(_ + 1L).getOrElse(0L)
    val nano = math.max(System.nanoTime(), floor)
    f"v-$nano%019d-${java.util.UUID.randomUUID().toString.substring(0, 8)}"
  }

  /** Publish: write the pointer to a temp file, atomically replace
    * CURRENT. Readers see the old complete version or the new complete
    * version, never a missing or partial table. Then GC versions beyond
    * the retention count (the published one is always kept). Called
    * only from [[publishVersion]], under the write lock.
    */
  private def publish(name: String): Unit = {
    stampLayout()
    val tmp = Paths.get(root, s"_ptr_${uniqueTag()}")
    try {
      Files.writeString(tmp, name)
      Files.move(tmp, currentPtr, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
    gc(name)
  }

  /** Drained, CLOSED directory listing — Files.list holds an open
    * directory descriptor until closed, and the store's recursive
    * link/move/delete walks previously leaked one per directory per
    * publish (reclaimed only at GC finalization — a long-running driver
    * under steady ingest accumulates fds until "Too many open files").
    */
  private def children(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toVector
    } finally s.close()
  }

  private def gc(liveName: String): Unit = Try {
    if (Files.exists(versionsDir)) {
      val all = children(versionsDir)
        .map(_.getFileName.toString).sorted.reverse
      all.drop(keepVersions).filterNot(_ == liveName)
        .foreach(n => Try(deleteRecursively(versionsDir.resolve(n))))
    }
  }

  /** Recursively hard-link the tree at `src` into `dst` (zero-copy, same
    * inodes; directories are created, files are linked), except the
    * paths in `skip` — relative to the tree's root, "" being the root.
    */
  private def linkTree(src: Path, dst: Path, skip: Set[String], rel: String = ""): Unit =
    if (!skip(rel)) {
      if (Files.isDirectory(src)) {
        Files.createDirectories(dst)
        children(src).foreach { child =>
          val n = child.getFileName.toString
          linkTree(child, dst.resolve(n), skip, if (rel.isEmpty) n else s"$rel/$n")
        }
      } else Files.createLink(dst, src)
    }

  /** Move `src` to `dst`, merging into `dst` where both are directories
    * (Spark part-file names are UUID-unique, so files never collide).
    */
  private def mergeMove(src: Path, dst: Path): Unit =
    if (Files.isDirectory(src) && Files.isDirectory(dst))
      children(src).foreach(child => mergeMove(child, dst.resolve(child.getFileName)))
    else Files.move(src, dst, StandardCopyOption.REPLACE_EXISTING)

  /** Schema-align and cluster by the partition column: without the
    * repartition, `partitionBy(client_id)` writes one file per shuffle
    * partition per client — the classic small-files problem (and most of
    * the fixture-batch write cost). One task per client per version is
    * the right shape for MB-scale tenant batches; a tenant large enough
    * to need parallel writers would add a bucketing column here.
    */
  private def align(df: DataFrame): DataFrame = {
    val base = ProductSchema.align(df)
    skuBuckets match {
      case Some(n) =>
        base.withColumn(ProductStore.BucketCol,
            ProductStore.bucketOf(col("sku"), n))
          .repartition(partitionCols.map(col): _*)
      case None => base.repartition(col("client_id"))
    }
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      val w = Files.walk(p)
      val all =
        try {
          import scala.jdk.CollectionConverters._
          w.iterator().asScala.toVector
        } finally w.close()
      all.reverse.foreach(Files.delete)
    }
  }
}

object ProductStore {
  /** Layout-only bucket column name for bucketed stores. */
  private[operators] val BucketCol = "_bucket"

  /** THE sku→bucket function, shared by the store's writer and every
    * caller that restricts a merge to touched buckets
    * ([[IngestionService]]) — two divergent definitions would silently
    * route a row to a bucket the merge never read. Spark's `hash` of a
    * NULL sku returns the seed (never null), so insert-only rows land
    * in one deterministic bucket.
    */
  def bucketOf(sku: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    pmod(hash(sku), lit(n)).cast("int")

  /** One monitor per canonical store root, shared by all ProductStore
    * instances in this JVM (see [[ProductStore#withWriteLock]]).
    */
  private val jvmLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Per-(root, client) ingest monitors — shared across ProductStore
    * instances on the same root, so same-client ingests serialize even
    * through separate store objects (see [[ProductBackend.withIngestLock]]).
    */
  private val ingestLocks =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Object]()
}
