package graft.index

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Snapshot-based visibility (the Iceberg-style commit discipline of
  * SURVEY.md §7; reference analog: tantivy `meta.json` opstamp commits,
  * `/root/reference/summa-core/src/components/index_writer_holder.rs:417-423`).
  *
  * A snapshot is a one-line JSON file `_snapshots/v<NNNNNN>.json` listing the
  * live segment ids. Writers publish by writing a temp file and atomically
  * renaming the next version into place; readers resolve the highest version.
  * Old segment data stays on disk until explicitly dropped, so readers
  * holding an older snapshot stay consistent.
  */
final case class Snapshot(
    version: Int,
    segments: Seq[Int],
    buildId: String,
    createdAt: Long,
    /** Segment ids marked frozen (reference
      * `summa-core/src/components/segment_attributes.rs:10-14`): excluded
      * from merge policies and vacuum until unfrozen. Persisted in the
      * snapshot so frozenness survives restarts; carried forward on every
      * commit, AND-merged when segments merge (`segment_attributes.rs:62-68`).
      */
    frozen: Set[Int] = Set.empty)

object Snapshots {

  private def snapDir(indexDir: String) = new Path(s"$indexDir/_snapshots")

  def latest(spark: SparkSession, indexDir: String): Option[Snapshot] = {
    val f = MetaFiles.fs(spark, indexDir)
    val d = snapDir(indexDir)
    if (!f.exists(d)) return None
    val versions = f.listStatus(d).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toInt)
    if (versions.isEmpty) None
    else MetaFiles.read(f, new Path(d, f"v${versions.max}%06d.json"))(parse)
  }

  /** Read a specific snapshot version (time travel). */
  def at(spark: SparkSession, indexDir: String, version: Int): Snapshot =
    MetaFiles.read(MetaFiles.fs(spark, indexDir), new Path(snapDir(indexDir), f"v$version%06d.json"))(parse)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot version $version at $indexDir"))

  /** Publish the next snapshot version. The snapshot body is written to a
    * hidden tmp file and RENAMED into place, so readers either see a complete
    * version file or none at all (atomic visibility — a reader refreshing
    * mid-commit must never parse partial bytes). Version allocation is made
    * exclusive by three layers: (1) a per-directory JVM monitor — Hadoop
    * local-FS `create(path, overwrite=false)` is exists-then-open, not
    * O_EXCL, so in-process threads need real mutual exclusion; (2) a
    * `vNNNNNN.lock` claim file for cross-process committers, created via
    * O_EXCL `File.createNewFile` on the local filesystem (atomic across
    * processes) and via create-no-overwrite on remote stores (atomic at the
    * metadata service); (3) an
    * exists(dst) check under the lock plus rename-failure-as-lost-race,
    * because rename alone cannot carry the claim — on Hadoop's raw local
    * filesystem it maps to rename(2), which silently replaces an existing
    * destination. Of two concurrent committers computing the same next
    * version exactly one publishes it and the loser retries with the
    * following version. Only the already-exists/lost-race conditions retry —
    * any other IO failure (disk full, permissions) is rethrown immediately. A
    * committer that dies between claim and rename orphans one version
    * number (readers filter on `.json`, later committers skip past it) —
    * versions may skip, never collide. The index is still
    * single-logical-writer (concurrent committers must not retire each
    * other's segments); this only makes version allocation + visibility safe.
    *
    * Frozen-segment attributes carry forward automatically: previous frozen ∩
    * new segment set, plus `freeze`, minus `unfreeze`.
    */
  def commit(
      spark: SparkSession,
      indexDir: String,
      segments: Seq[Int],
      buildId: String,
      freeze: Set[Int] = Set.empty,
      unfreeze: Set[Int] = Set.empty): Snapshot = {
    val f = MetaFiles.fs(spark, indexDir)
    val d = snapDir(indexDir)
    f.mkdirs(d)
    val prev = latest(spark, indexDir)
    var next = prev.map(_.version + 1).getOrElse(1)
    val frozen =
      ((prev.map(_.frozen).getOrElse(Set.empty) ++ freeze) -- unfreeze) & segments.toSet
    val tmp = new Path(d, s".tmp-${java.util.UUID.randomUUID()}.json")
    var committed: Option[Snapshot] = None
    // In-process commits are fully serialized per snapshot directory: Hadoop
    // local-FS `create(path, overwrite=false)` is exists-check-then-open, NOT
    // O_EXCL, so two threads in one JVM can both "win" the same lock file.
    // One JVM = one Spark driver is the common deploy; the monitor makes that
    // case airtight. The lock-file protocol below still guards cross-process.
    val mon = jvmCommitLocks.computeIfAbsent(d.toString, _ => new Object)
    mon.synchronized {
    try {
      var attempts = 0
      def lostRace(lock: Path): Unit = {
        f.delete(lock, false)
        attempts += 1
        require(attempts < 1000, s"snapshot commit lost the version race $attempts times")
        next += 1
      }
      while (committed.isEmpty) {
        val dst = new Path(d, f"v$next%06d.json")
        val lock = new Path(d, f"v$next%06d.lock")
        // exclusive create = the version claim; FileAlreadyExistsException
        // (or any IOException with the lock now present) IS the lost race.
        // On the local filesystem Hadoop's create(overwrite=false) is
        // exists-check-then-open (NOT O_EXCL), so two PROCESSES could both
        // "win" — route local paths through File.createNewFile, which is
        // O_EXCL-atomic on POSIX. Remote stores (HDFS/object) serialize
        // create-no-overwrite at the metadata service, so the Hadoop call is
        // already an atomic claim there.
        val claimed =
          if (f.getScheme == "file") {
            val local = new java.io.File(lock.toUri.getPath)
            try local.createNewFile()
            catch { case e: java.io.IOException => if (local.exists()) false else throw e }
          } else {
            try { f.create(lock, false).close(); true }
            catch {
              case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
              case _: java.nio.file.FileAlreadyExistsException        => false
              case e: java.io.IOException => if (f.exists(lock)) false else throw e
            }
          }
        if (claimed && f.exists(dst)) {
          // Lost race despite winning the lock: the prior claimant committed
          // dst and released its lock before we computed `next`. Local-FS
          // rename(2) silently replaces the destination, so renaming here
          // would clobber a committed snapshot — bump and retry instead.
          // (Safe because the winner renames dst into place BEFORE releasing
          // the lock in its finally, so lock-holders always observe dst.)
          lostRace(lock)
        } else if (claimed) {
          val snap =
            Snapshot(next, segments.sorted, buildId, System.currentTimeMillis(), frozen)
          val out = f.create(tmp, true)
          out.write(MetaFiles.mapper.writeValueAsBytes(render(snap)))
          out.close()
          if (f.rename(tmp, dst)) {
            f.delete(lock, false)
            committed = Some(snap)
          } else {
            // A cross-process racer that slipped past the non-atomic lock
            // create published dst first (FS with no-replace rename
            // semantics). Their snapshot stands; take the next slot.
            lostRace(lock)
          }
        } else {
          attempts += 1
          require(attempts < 1000, s"snapshot commit lost the version race $attempts times")
          next += 1
        }
      }
    } finally f.delete(tmp, false)
    }
    commitEpochs
      .computeIfAbsent(d.toString, _ => new java.util.concurrent.atomic.AtomicLong)
      .incrementAndGet()
    committed.get
  }

  /** Serializes in-process committers per `_snapshots` dir (see commit()). */
  private val jvmCommitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Monotonic per-directory count of commits made BY THIS PROCESS. Readers
    * that memoize [[latest]] behind a staleness TTL (e.g. the SQL TVF layer)
    * fold this into their memo key so an in-process commit is visible on the
    * very next query — the TTL then only bounds staleness against OTHER
    * processes' commits.
    */
  def commitEpoch(indexDir: String): Long = {
    val e = commitEpochs.get(snapDir(indexDir).toString)
    if (e == null) 0L else e.get()
  }
  private val commitEpochs =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  /** One compact line; `frozen` is absent in pre-frozen snapshots, read as
    * none frozen.
    */
  private[index] def render(s: Snapshot): JsonNode =
    MetaFiles.obj("version" -> s.version, "segments" -> s.segments,
      "frozen" -> s.frozen.toSeq.sorted, "build_id" -> s.buildId, "created_at" -> s.createdAt)

  private[index] def parse(n: JsonNode): Snapshot =
    Snapshot(n.required("version").asInt, MetaFiles.ints(n.required("segments")),
      n.path("build_id").asText, n.required("created_at").asLong,
      MetaFiles.ints(n.path("frozen")).toSet)
}
