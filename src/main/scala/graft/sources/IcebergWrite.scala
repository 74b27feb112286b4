package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.util.Json

/** Write-side interop with the OPEN Apache Iceberg table spec
  * (iceberg.apache.org/spec, format version 2) — [[IcebergRead]]'s
  * counterpart and [[DeltaWrite]]'s sibling for the other open format.
  * Like the reader, no Iceberg library is involved: table metadata is
  * JSON ([[graft.util.Json]] both ways), manifest lists and manifests
  * are Avro written with the avro-core jars Spark already ships, and
  * data files are parquet from Spark's own writer.
  *
  * What a commit writes (the spec's resolution chain, produced in
  * reverse):
  *   data/part-*.parquet            one distributed Spark job
  *   metadata/m-<uuid>.avro         manifest: one entry per new file
  *   metadata/snap-<id>-*.avro      manifest list: carried manifests
  *                                  (append) or just the new one
  *                                  (create/overwrite) + the new one
  *   metadata/v<N>.metadata.json    new current snapshot + schema
  *   metadata/version-hint.text     pointer (post-commit convenience)
  *
  * Commit protocol: `v<N>.metadata.json` is claimed by hard-link
  * first-wins (the [[GraftTable]]/[[DeltaWrite]] idiom — EEXIST is
  * atomic, a lost race can never replace a winner's commit). The next
  * version is derived from the DIRECTORY LISTING, not the hint file:
  * the hint is a read-side pointer updated after the claim, so a
  * crash between the two leaves readers one consistent snapshot
  * behind, healed by the next commit — never torn.
  *
  * Field ids, the part Delta does not have: Iceberg resolves columns
  * BY ID, so the writer assigns ids (depth-first, the spec's
  * assignment rule) on create, records them in the schema JSON, AND
  * attaches them as `parquet.field.id` metadata so Spark's parquet
  * writer stamps the ids into every data file's footer. [[IcebergRead]]
  * refuses id-less data files, so a round-trip through the reader
  * proves the stamping end to end. On append to an EXISTING table the
  * TABLE's ids are attached to the aligned frame — whatever ids a
  * foreign writer assigned are preserved, never re-derived.
  *
  * Scope (refused loudly, mirroring the reader):
  *   - writes require format-version = 2 exactly (this writer emits
  *     v2 constructs — mixing them into a v1 table's metadata would
  *     be nonconformant both ways). Row-level deletes WRITE since r15
  *     ([[delete]] — position-delete files under the reserved field
  *     ids, delete manifests, the sequence-number rules the reader
  *     enforces); appends over delete-carrying tables carry the
  *     delete manifests by reference, and sequence numbers keep old
  *     deletes off new files by construction;
  *   - PARTITIONED tables are not written (the current default spec
  *     must be unpartitioned): identity-partition transforms would be
  *     expressible, but hidden-partitioning transforms (bucket,
  *     truncate, days…) are a whole evaluation engine — all-or-nothing
  *     per the spec's "writers must produce partition values for the
  *     default spec";
  *   - appends preserve but do not evolve schemas: a frame not
  *     matching the current schema (by name, types equal, nullable
  *     never landing in a required slot) is refused.
  *
  * 100 TB shape: identical to [[DeltaWrite]] — data moves through one
  * distributed parquet job, the driver writes manifest-scale metadata
  * (one avro row per file). Appends carry prior manifests by
  * REFERENCE in the new manifest list (work per commit ∝ the commit,
  * never the table).
  *
  * Validation mirrors DeltaWrite's three-way story: golden assertions
  * on the metadata JSON + manifest avro fields (IcebergWriteSpec),
  * round-trip through the independently-pinned [[IcebergRead]]
  * (field-id resolution included), and the IcebergWriteProps model
  * property over random create/append/overwrite sequences at every
  * snapshot.
  */
object IcebergWrite {

  import GraftTable.ConcurrentWriteException

  /** Create a new (format-version 2) Iceberg table at `root` from
    * `df`, optionally IDENTITY-partitioned by `partitionBy` (r15 —
    * each named top-level column becomes a spec field with
    * `transform: identity`, partition field ids from 1000; the source
    * columns STAY in the data files, as the spec stores identity
    * sources, so any plain parquet reader sees full rows while
    * manifests carry the per-file partition tuple for pruning).
    * Returns the snapshot id. */
  def create(spark: SparkSession, df: DataFrame, root: String,
             partitionBy: Seq[String] = Nil): Long = {
    val metaDir = Paths.get(root, "metadata")
    require(!Files.isDirectory(metaDir) || {
      val ls = Files.list(metaDir)
      try !ls.iterator().asScala.exists(
        _.getFileName.toString.matches("v\\d+\\.metadata\\.json"))
      finally ls.close()
    }, s"Iceberg table already exists at $root — use append/overwrite")
    val (idSchema, lastColumnId, schemaJson) = assignIds(df.schema)
    val schemaObj = schemaJson ++ ListMap("schema-id" -> 0L)
    val fieldIdByName = Json.list(schemaObj, "fields")
      .map(f => Json.str(f, "name").get -> Json.long(f, "id").get).toMap
    val partFields = partitionBy.zipWithIndex.map { case (c, i) =>
      val srcId = fieldIdByName.getOrElse(c, sys.error(
        s"partitionBy column '$c' is not a top-level column of the frame"))
      val st = idSchema(c).dataType
      partAvroType(st, root) // refuse unsupported types up front
      PartField(c, srcId, 1000L + i, st)
    }
    val files = stage(spark, df, root, idSchema, partFields)
    val snapId = 1L
    val manifest = writeManifest(root, files, snapId, sequenceNumber = 1L,
      Json.render(schemaObj), schemaId = 0L, partFields = partFields)
    val mlPath = writeManifestList(root, snapId, parent = None, seq = 1L,
      Seq(manifest))
    val meta = ListMap(
      "format-version" -> 2L,
      "table-uuid" -> UUID.randomUUID().toString,
      "location" -> Paths.get(root).toAbsolutePath.toString,
      "last-sequence-number" -> 1L,
      "last-updated-ms" -> System.currentTimeMillis(),
      "last-column-id" -> lastColumnId.toLong,
      "current-schema-id" -> 0L,
      "schemas" -> List(schemaObj),
      "default-spec-id" -> 0L,
      "partition-specs" -> List(ListMap(
        "spec-id" -> 0L,
        "fields" -> partFields.map(p => ListMap(
          "name" -> p.name, "transform" -> "identity",
          "source-id" -> p.sourceId, "field-id" -> p.fieldId)).toList)),
      "last-partition-id" -> (999L + partFields.size),
      "default-sort-order-id" -> 0L,
      "sort-orders" -> List(ListMap(
        "order-id" -> 0L, "fields" -> Nil)),
      "properties" -> ListMap.empty,
      "current-snapshot-id" -> snapId,
      "snapshots" -> List(snapshotEntry(root, snapId, parent = None,
        seq = 1L, mlPath, "append")))
    commitMetadata(root, 1, meta).getOrElse(
      throw new ConcurrentWriteException(
        s"Iceberg table at $root was created concurrently"))
    snapId
  }

  /** Append `df` as a new snapshot: prior manifests carried by
    * reference, one new manifest for the new files. Schema must match
    * the table's; the TABLE's field ids are stamped into the new
    * parquet files. Returns the new snapshot id. */
  def append(spark: SparkSession, df: DataFrame, root: String): Long =
    commitData(spark, df, root, carryPrior = true, op = "append")

  /** Replace the table's contents: the new snapshot's manifest list
    * holds ONLY the new manifest — prior files leave the live set by
    * omission, exactly how engines rewrite snapshots. */
  def overwrite(spark: SparkSession, df: DataFrame, root: String): Long =
    commitData(spark, df, root, carryPrior = false, op = "overwrite")

  /** DELETE FROM without rewriting a data byte — [[DeltaWrite
    * .deleteWithDv]]'s Iceberg twin (r15): the matching VISIBLE rows'
    * physical positions become one v2 POSITION DELETE file
    * (spec §Position Delete Files — `file_path` under reserved field
    * id 2147483546, `pos` under 2147483545, rows sorted by (path,
    * pos)), published through a delete manifest (content=1) appended
    * to the carried prior manifests. The new snapshot's sequence
    * number makes the spec's applicability rule come out right by
    * construction: the delete (seq N) hits every current data file
    * (seq ≤ N) and no file a later commit adds (seq > N). Existing
    * delete files apply FIRST when positions are computed, so already-
    * hidden rows are never re-emitted. A no-match delete commits
    * nothing. Returns the committed (or current) snapshot id.
    *
    * 100 TB shape: one scan of the table's visible rows (predicate
    * pushed to the parquet scan), one distributed sort of the MATCHING
    * positions — delete-proportional everywhere but the scan, which a
    * stats-pruning caller can subset. */
  def delete(spark: SparkSession, root: String,
             predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.lit
    deleteImpl(spark, root,
      df => df.where(predicate <=> lit(true)), Map.empty)
  }

  /** [[delete]] with the matching rows given as a KEY frame (one
    * column, semi-joined null-safely) instead of a predicate — the
    * shape [[GraftTable.syncToIceberg]] produces when it mirrors a
    * pure-delete merge as a v2 delete snapshot. `summaryExtra` rides
    * the snapshot summary (the mirror's graft-version tag). */
  private[sources] def deleteMatching(spark: SparkSession, root: String,
                                      keys: DataFrame,
                                      summaryExtra: Map[String, String])
      : Long = {
    val kc = keys.columns match {
      case Array(c) => c
      case other => sys.error(s"deleteMatching wants ONE key column, got " +
        other.mkString(","))
    }
    deleteImpl(spark, root,
      df => df.join(keys, df(kc) <=> keys(kc), "left_semi"), summaryExtra)
  }

  private def deleteImpl(spark: SparkSession, root: String,
                         filter: DataFrame => DataFrame,
                         summaryExtra: Map[String, String]): Long = {
    import org.apache.spark.sql.functions.col
    deleteCommit(root, summaryExtra) { (meta, st) =>
      // canonical → manifest-raw path, for the delete file's file_path
      val rawByCanon = st.files.map(p => IcebergRead.canonStr(p) -> p).toMap
      val visible = IcebergRead.planVisiblePos(spark, meta, st, st.files)
      val toRaw = org.apache.spark.sql.functions.udf((c: String) =>
        rawByCanon.getOrElse(c, c))
      val positions = filter(visible)
        .select(toRaw(col(IcebergRead.PosFileCol)).as("file_path"),
          col(IcebergRead.PosPosCol).as("pos"))
      stageDeleteFile(spark, positions, root).map((_, 1, Nil))
    }
  }

  /** EQUALITY DELETE (r15): hide every row whose `column` value
    * appears in `keys` (one-column frame) — a v2 equality-delete file
    * over that single top-level field, applied by the reader's
    * STRICTLY-OLDER sequence rule, so rows appended after this commit
    * stay visible even at matching values (the spec's upsert
    * primitive). Unlike [[delete]], NO table scan happens: the delete
    * file IS the key set, so the commit costs one small parquet write
    * plus manifest-scale metadata — O(|keys|) regardless of table
    * size, the cheapest possible 100 TB delete. A no-key frame
    * commits nothing. Returns the committed (or current) snapshot
    * id. */
  def deleteEqual(spark: SparkSession, root: String, column: String,
                  keys: DataFrame): Long =
    deleteCommit(root, Map.empty) { (meta, _) =>
      val schemaObj = currentSchemaObj(meta)
      val field = Json.list(schemaObj, "fields")
        .find(f => Json.str(f, "name").contains(column))
        .getOrElse(sys.error(s"no top-level column '$column' in the " +
          s"current schema at $root — equality deletes match schema fields"))
      val fid = Json.long(field, "id")
        .getOrElse(sys.error(s"schema field '$column' has no id"))
      val sparkType = IcebergRead.read(spark, root).schema(column).dataType
      val idSchema = StructType(Seq(StructField(column, sparkType,
        nullable = false,
        new MetadataBuilder().putLong("parquet.field.id", fid).build())))
      val kc = keys.columns match {
        case Array(c) => c
        case other => sys.error("deleteEqual wants ONE key column, got " +
          other.mkString(","))
      }
      val rows = keys.select(col(kc).cast(sparkType).as(column))
        .where(col(column).isNotNull).distinct()
        .sort(col(column)).coalesce(1)
      stageParquet(spark, rows, idSchema, root).map((_, 2, Seq(fid)))
    }

  /** The shared delete-snapshot commit loop: `stageFn(meta, state)`
    * stages one delete file (with its content code + equality ids) or
    * None for a no-op; the loop publishes it through a delete
    * manifest + carried priors, retrying with freshly computed
    * content on a lost metadata race. */
  private def deleteCommit(root: String, summaryExtra: Map[String, String])
      (stageFn: (Any, IcebergRead.SnapState)
        => Option[(StagedFile, Int, Seq[Long])]): Long = {
    var attempts = 0
    while (true) {
      val baseV = highestMetaVersion(root)
      require(baseV >= 1, s"not an Iceberg table: no vN.metadata.json at $root")
      val meta = writableMeta(root, baseV)
      require(partFieldsOf(meta, root).isEmpty,
        s"row-level delete writes on the PARTITIONED Iceberg table at " +
          s"$root are not implemented (delete manifests would need " +
          "partition scoping) — rewrite via overwrite, or delete " +
          "through GraftTable")
      val snapId0 = Json.long(meta, "current-snapshot-id")
        .getOrElse(sys.error(s"no current snapshot at $root"))
      val st = IcebergRead.snapState(meta, root, snapId0)
      stageFn(meta, st) match {
        case None => return snapId0 // no matching row — nothing to commit
        case Some((deleteFile, content, equalityIds)) =>
          val lastSeq = Json.long(meta, "last-sequence-number").getOrElse(0L)
          val seq = lastSeq + 1
          val snaps = Json.list(meta, "snapshots")
          val snapId = snaps.flatMap(s => Json.long(s, "snapshot-id"))
            .foldLeft(0L)(math.max) + 1
          val schemaId = Json.long(meta, "current-schema-id").getOrElse(0L)
          val delManifest = writeManifest(root, Seq(deleteFile), snapId, seq,
            Json.render(currentSchemaObj(meta)), schemaId, content = content,
            equalityIds = equalityIds,
            specId = Json.long(meta, "default-spec-id").getOrElse(0L))
          val carried = {
            val psnap = snaps.find(s =>
              Json.long(s, "snapshot-id").contains(snapId0)).get
            val ml = IcebergRead.resolve(root, Json.str(psnap, "manifest-list")
              .getOrElse(sys.error("snapshot without manifest-list")))
            IcebergRead.avroRows(ml).map(manifestFileAsMap(root, _))
          }
          val mlPath = writeManifestList(root, snapId, Some(snapId0), seq,
            carried :+ delManifest)
          val newSnap = snapshotEntry(root, snapId, Some(snapId0), seq,
            mlPath, "delete", schemaId, summaryExtra)
          val m = meta.asInstanceOf[Map[String, Any]]
          val updated = m ++ ListMap(
            "last-sequence-number" -> seq,
            "last-updated-ms" -> System.currentTimeMillis(),
            "current-snapshot-id" -> snapId,
            "snapshots" -> (snaps :+ newSnap))
          commitMetadata(root, baseV + 1, updated) match {
            case Some(_) => return snapId
            case None =>
              attempts += 1
              require(attempts < 64,
                s"delete at $root lost $attempts commit races — giving up")
              Files.deleteIfExists(Paths.get(deleteFile.path))
            // loop: positions were computed against a superseded
            // snapshot — re-fold and recompute
          }
      }
    }
    sys.error("unreachable")
  }

  /** The spec's reserved field ids for position-delete columns. */
  private val PosDeleteFilePathId = 2147483546L
  private val PosDeletePosId = 2147483545L

  /** One sorted position-delete parquet under `data/` (reserved field
    * ids stamped), or None when `positions` is empty. */
  private def stageDeleteFile(spark: SparkSession, positions: DataFrame,
                              root: String): Option[StagedFile] = {
    import org.apache.spark.sql.functions.col
    val idSchema = StructType(Seq(
      StructField("file_path", StringType, nullable = false,
        new MetadataBuilder().putLong("parquet.field.id",
          PosDeleteFilePathId).build()),
      StructField("pos", LongType, nullable = false,
        new MetadataBuilder().putLong("parquet.field.id",
          PosDeletePosId).build())))
    val sorted = positions.sort(col("file_path"), col("pos")).coalesce(1)
    stageParquet(spark, sorted, idSchema, root)
  }

  /** One single-file parquet of `rows` (footer field ids from
    * `idSchema`) moved under `data/`, or None when empty. */
  private def stageParquet(spark: SparkSession, rows: DataFrame,
                           idSchema: StructType, root: String)
      : Option[StagedFile] = {
    LocalFs.staged(Paths.get(root, s".iceberg-del-${UUID.randomUUID()}"),
        spark.createDataFrame(rows.rdd, idSchema).write) { staged =>
      val src = staged.headOption.getOrElse(sys.error("no staged delete file"))
      val rows = LocalFs.parquetRows(src)
      if (rows == 0L) None
      else {
        val dataDir = Paths.get(root, "data")
        Files.createDirectories(dataDir)
        val dest = dataDir.resolve(s"delete-${UUID.randomUUID()}.parquet")
        Files.move(src, dest)
        Some(StagedFile(dest.toAbsolutePath.toString, Files.size(dest), rows))
      }
    }
  }

  /** Result of [[expireSnapshots]]: snapshot ids expired and the
    * physical files reclaimed by kind. */
  case class ExpireStats(expired: Seq[Long], manifestListsDeleted: Long,
                         manifestsDeleted: Long, dataFilesDeleted: Long,
                         metadataFilesDeleted: Long)

  /** EXPIRE SNAPSHOTS — [[DeltaWrite.vacuum]]'s Iceberg twin (r15):
    * snapshots older than `olderThanMs` leave the metadata (the
    * CURRENT snapshot and the newest `retainLast` ancestors on its
    * chain always survive), and every file reachable ONLY from
    * expired snapshots — manifest lists, manifests, data and delete
    * files — is physically deleted. Reachability is computed exactly
    * from the manifests of both sides, so a data file still carried
    * by any surviving snapshot (the common case: appends carry prior
    * manifests by reference) is never touched; the deletes are
    * metadata-scale reads plus the unlink calls themselves.
    *
    * The new metadata document is committed through the same
    * first-wins v(N+1) protocol as data commits (a lost race re-folds
    * and retries), `snapshot-log` entries of expired ids are dropped,
    * and `maxMetadataVersions` (opt-in) bounds the old
    * `vN.metadata.json` ladder the way the spec's
    * `write.metadata.previous-versions-max` does.
    *
    * After expiry, time travel to an expired snapshot refuses
    * ("snapshot N not found"), and `readChanges` across an expired
    * boundary refuses the broken ancestry — history past the horizon
    * is gone by definition, the same contract as Delta VACUUM. */
  def expireSnapshots(root: String, olderThanMs: Long,
                      retainLast: Int = 1,
                      maxMetadataVersions: Int = Int.MaxValue): ExpireStats = {
    require(retainLast >= 1, "retainLast must keep at least the current snapshot")
    val horizon = System.currentTimeMillis() - olderThanMs
    var attempts = 0
    while (true) {
      val baseV = highestMetaVersion(root)
      require(baseV >= 1, s"not an Iceberg table: no vN.metadata.json at $root")
      val meta = Json.parse(Files.readString(
        Paths.get(root, "metadata", s"v$baseV.metadata.json"),
        StandardCharsets.UTF_8))
      val snaps = Json.list(meta, "snapshots")
      val byId = snaps.map(s => Json.long(s, "snapshot-id")
        .getOrElse(sys.error("snapshot without snapshot-id")) -> s).toMap
      val cur = Json.long(meta, "current-snapshot-id")
        .getOrElse(sys.error(s"no current snapshot at $root"))
      // newest `retainLast` ancestors on the current chain
      val chainKeep = Iterator.iterate(Option(cur))(
          _.flatMap(id => byId.get(id).flatMap(Json.long(_, "parent-snapshot-id"))))
        .takeWhile(_.exists(byId.contains)).map(_.get)
        .take(retainLast).toSet
      // a snapshot named by ANY ref (a foreign writer's branch/tag
      // head) must survive regardless of age — expiring it would
      // break that ref for the engine that owns it
      val refKeep: Set[Long] = Json.get(meta, "refs") match {
        case m: Map[_, _] => m.asInstanceOf[Map[String, Any]].values
          .flatMap(Json.long(_, "snapshot-id")).toSet
        case _ => Set.empty
      }
      val keep = snaps.flatMap(Json.long(_, "snapshot-id")).filter(id =>
        chainKeep(id) || refKeep(id) ||
          Json.long(byId(id), "timestamp-ms").exists(_ >= horizon)).toSet
      val expired = snaps.flatMap(Json.long(_, "snapshot-id"))
        .filterNot(keep).sorted
      if (expired.isEmpty)
        return ExpireStats(Nil, 0L, 0L, 0L,
          pruneMetadataVersions(root, baseV, maxMetadataVersions))

      val m = meta.asInstanceOf[Map[String, Any]]
      val newSnaps = snaps.filter(s =>
        Json.long(s, "snapshot-id").exists(keep))
      val newLog = Option(Json.get(meta, "snapshot-log"))
        .collect { case l: List[_] => l.asInstanceOf[List[Any]] }
        .map(_.filter(e => Json.long(e, "snapshot-id").exists(keep)))
      val updated = m ++ ListMap(
        "last-updated-ms" -> System.currentTimeMillis(),
        "snapshots" -> newSnaps) ++
        newLog.map(l => ListMap("snapshot-log" -> l)).getOrElse(ListMap.empty)
      commitMetadata(root, baseV + 1, updated) match {
        case None =>
          attempts += 1
          require(attempts < 64,
            s"expireSnapshots at $root lost $attempts commit races — giving up")
        case Some(_) =>
          // reachability: (manifest lists, manifests, data/delete files)
          def reach(ids: Seq[Long]): (Set[String], Set[String], Set[String]) = {
            val mls = scala.collection.mutable.HashSet.empty[String]
            val mfs = scala.collection.mutable.HashSet.empty[String]
            val dfs = scala.collection.mutable.HashSet.empty[String]
            ids.foreach { id =>
              val snap = byId(id)
              Json.str(snap, "manifest-list").foreach { mlRaw =>
                val ml = IcebergRead.resolve(root, mlRaw)
                mls += ml
                IcebergRead.avroRows(ml).foreach { r =>
                  val mf = IcebergRead.resolve(root,
                    r.get("manifest_path").toString)
                  mfs += mf
                  IcebergRead.avroRows(mf).foreach { e =>
                    Option(e.get("data_file")).foreach { d =>
                      dfs += IcebergRead.resolve(root,
                        d.asInstanceOf[GenericRecord].get("file_path").toString)
                    }
                  }
                }
              }
            }
            (mls.toSet, mfs.toSet, dfs.toSet)
          }
          val (keepMl, keepMf, keepDf) = reach(keep.toSeq)
          val (expMl, expMf, expDf) = reach(expired)
          def unlink(ps: Set[String]): Long =
            ps.count(p => Files.deleteIfExists(Paths.get(p))).toLong
          val stats = ExpireStats(expired,
            unlink(expMl -- keepMl), unlink(expMf -- keepMf),
            unlink(expDf -- keepDf),
            pruneMetadataVersions(root, baseV + 1, maxMetadataVersions))
          return stats
      }
    }
    sys.error("unreachable")
  }

  /** Keep the newest `max` `vN.metadata.json` documents (the spec's
    * `write.metadata.previous-versions-max` behavior); returns the
    * number deleted. The current document always survives. */
  private def pruneMetadataVersions(root: String, currentV: Int,
                                    max: Int): Long = {
    if (max == Int.MaxValue) return 0L
    require(max >= 1, "must keep at least the current metadata document")
    val metaDir = Paths.get(root, "metadata")
    val ls = Files.list(metaDir)
    val vs = try ls.iterator().asScala.map(_.getFileName.toString)
      .collect { case n if n.matches("v(\\d+)\\.metadata\\.json") =>
        n.stripPrefix("v").stripSuffix(".metadata.json").toInt }
      .toVector.sorted
    finally ls.close()
    vs.filter(v => v <= currentV - max)
      .count(v => Files.deleteIfExists(metaDir.resolve(s"v$v.metadata.json")))
      .toLong
  }

  /** Remove files under `data/` that NO snapshot in the current
    * metadata references and whose mtime is older than `olderThanMs`
    * (default 3 days, the ecosystem's orphan-file convention) —
    * crashed stages, lost-race residue, foreign leftovers. The age
    * guard is what makes it safe next to in-flight commits: a
    * concurrent writer's staged file is younger than any sane
    * horizon. Returns the number deleted. */
  def removeOrphanFiles(root: String,
                        olderThanMs: Long = 3L * 24 * 3600 * 1000): Long = {
    val meta = IcebergRead.currentMeta(root)
    val snaps = Json.list(meta, "snapshots")
    val referenced = scala.collection.mutable.HashSet.empty[String]
    snaps.foreach { snap =>
      Json.str(snap, "manifest-list").foreach { mlRaw =>
        IcebergRead.avroRows(IcebergRead.resolve(root, mlRaw)).foreach { r =>
          val mf = IcebergRead.resolve(root, r.get("manifest_path").toString)
          IcebergRead.avroRows(mf).foreach { e =>
            Option(e.get("data_file")).foreach { d =>
              referenced += IcebergRead.resolve(root,
                d.asInstanceOf[GenericRecord].get("file_path").toString)
            }
          }
        }
      }
    }
    val dataDir = Paths.get(root, "data")
    if (!Files.isDirectory(dataDir)) return 0L
    val horizon = System.currentTimeMillis() - olderThanMs
    val walk = Files.walk(dataDir)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        !referenced(p.toAbsolutePath.toString) &&
        (try Files.getLastModifiedTime(p).toMillis < horizon
         catch { case _: java.nio.file.NoSuchFileException => false }))
      .count(Files.deleteIfExists(_)).toLong
    finally walk.close()
  }

  // ---------------------------------------------------------------- internals

  private def commitData(spark: SparkSession, df: DataFrame, root: String,
                         carryPrior: Boolean, op: String): Long = {
    var attempts = 0
    while (true) {
      // optimistic concurrency: fold the HIGHEST listed metadata
      // version (never the hint — it may lag a concurrent winner) and
      // claim EXACTLY baseV+1; claiming any later slot would publish a
      // snapshot list that silently drops commits this fold never saw
      val baseV = highestMetaVersion(root)
      require(baseV >= 1, s"not an Iceberg table: no vN.metadata.json at $root")
      val meta = writableMeta(root, baseV)
      val partFields = partFieldsOf(meta, root)
      val schemaObj = currentSchemaObj(meta)
      val schema = IcebergRead.toSpark(schemaObj).asInstanceOf[StructType]
      val aligned = DeltaWrite.align(df, schema)
      val files = stage(spark, aligned, root, schema, partFields)
      val lastSeq = Json.long(meta, "last-sequence-number").getOrElse(0L)
      val seq = lastSeq + 1
      val snaps = Json.list(meta, "snapshots")
      val snapId = snaps.flatMap(s => Json.long(s, "snapshot-id"))
        .foldLeft(0L)(math.max) + 1
      val parent = Json.long(meta, "current-snapshot-id")
      // the snapshot and its manifests record the TABLE's current
      // schema id — a foreign table that evolved is not pinned back to 0
      val schemaId = Json.long(meta, "current-schema-id").getOrElse(0L)
      val manifest = writeManifest(root, files, snapId, seq,
        Json.render(schemaObj), schemaId, partFields = partFields,
        specId = Json.long(meta, "default-spec-id").getOrElse(0L))
      val carried: Seq[Map[String, Any]] =
        if (!carryPrior) Nil
        else parent.toSeq.flatMap { pid =>
          val psnap = snaps.find(s => Json.long(s, "snapshot-id").contains(pid))
            .getOrElse(sys.error(s"current snapshot $pid not listed at $root"))
          val ml = IcebergRead.resolve(root, Json.str(psnap, "manifest-list")
            .getOrElse(sys.error("snapshot without manifest-list")))
          IcebergRead.avroRows(ml).map(manifestFileAsMap(root, _))
        }
      val mlPath = writeManifestList(root, snapId, parent, seq,
        carried :+ manifest)
      val newSnap = snapshotEntry(root, snapId, parent, seq, mlPath, op,
        schemaId)
      val m = meta.asInstanceOf[Map[String, Any]]
      val updated = m ++ ListMap(
        "last-sequence-number" -> seq,
        "last-updated-ms" -> System.currentTimeMillis(),
        "current-snapshot-id" -> snapId,
        "snapshots" -> (snaps :+ newSnap))
      commitMetadata(root, baseV + 1, updated) match {
        case Some(_) => return snapId
        case None =>
          attempts += 1
          require(attempts < 64,
            s"$op at $root lost $attempts commit races — giving up")
          files.foreach(f => Files.deleteIfExists(
            Paths.get(f.path))) // unreachable: their manifest is unpublished
          // loop: re-fold and retry (append commutes; overwrite
          // recomputes its replacement against the NEW state)
      }
    }
    sys.error("unreachable")
  }

  /** Parse + gate metadata version `v` for writing: format ≤ 2 (the
    * reader's gate) and an UNPARTITIONED current spec. Reads the
    * explicit version file, not the hint ([[commitData]]'s fold). */
  private def writableMeta(root: String, v: Int): Any = {
    val meta = Json.parse(Files.readString(
      Paths.get(root, "metadata", s"v$v.metadata.json"),
      StandardCharsets.UTF_8))
    val fv = Json.long(meta, "format-version").getOrElse(1L)
    require(fv == 2L, s"Iceberg format-version $fv: this writer emits v2 " +
      "constructs (sequence numbers, v2 manifest lists) and will not mix " +
      "them into a v1 table — upgrade or re-create the table first")
    // identity-partitioned tables WRITE since r15 (partFieldsOf
    // validates the transforms and refuses non-identity specs by
    // name); the v1 inline partition-spec form is legacy metadata
    // this writer does not stage against
    require(Option(Json.get(meta, "partition-spec")).forall {
      case l: List[_] => l.isEmpty
      case _ => true
    }, s"Iceberg table at $root carries a legacy inline partition-spec " +
      "this writer does not evaluate — refusing")
    partFieldsOf(meta, root) // validates; result recomputed by callers
    meta
  }

  /** The table's current schema as its raw JSON structure (rendered
    * verbatim into each manifest's key-value metadata; converted via
    * [[IcebergRead.toSpark]] for staging — field ids attached as
    * `parquet.field.id`). */
  private def currentSchemaObj(meta: Any): Any = {
    val schemas = Json.list(meta, "schemas")
    Json.long(meta, "current-schema-id")
      .flatMap(id => schemas.find(s => Json.long(s, "schema-id").contains(id)))
      .orElse(Option(Json.get(meta, "schema")).filter(_ != null))
      .getOrElse(sys.error("no schema in Iceberg metadata"))
  }

  /** Assign field ids depth-first in field order (the spec's fresh-id
    * rule), attach each struct-field id as `parquet.field.id`
    * metadata, and emit the Iceberg schema JSON structure in the SAME
    * walk — so the nested list element-id / map key-id/value-id slots
    * carry the ids this counter actually consumed, and
    * `last-column-id` genuinely bounds every id in the schema JSON
    * (ADVICE r13: the previous anon-10000 fallback emitted
    * element-id=10001 with last-column-id=3, violating the spec rule
    * that last-column-id is the highest assigned field id). Returns
    * (id-stamped Spark schema, last id assigned, schema JSON structure
    * sans schema-id). */
  private[sources] def assignIds(schema: StructType)
      : (StructType, Int, Map[String, Any]) = {
    var next = 0
    def field(f: StructField): (StructField, Map[String, Any]) = {
      next += 1
      val id = next
      val (dt, json) = walk(f.dataType)
      (f.copy(dataType = dt, metadata = new MetadataBuilder()
        .withMetadata(f.metadata).putLong("parquet.field.id", id).build()),
        ListMap("id" -> id.toLong, "name" -> f.name,
          "required" -> !f.nullable, "type" -> json))
    }
    def walk(t: DataType): (DataType, Any) = t match {
      case s: StructType =>
        val done = s.fields.map(field)
        (StructType(done.map(_._1)),
          ListMap("type" -> "struct", "fields" -> done.map(_._2).toList))
      case a: ArrayType =>
        next += 1
        val elemId = next
        val (et, ej) = walk(a.elementType)
        (a.copy(elementType = et),
          ListMap("type" -> "list", "element-id" -> elemId.toLong,
            "element-required" -> !a.containsNull, "element" -> ej))
      case m: MapType =>
        next += 2
        val (keyId, valId) = (next - 1, next)
        val (kt, kj) = walk(m.keyType)
        val (vt, vj) = walk(m.valueType)
        (m.copy(keyType = kt, valueType = vt),
          ListMap("type" -> "map", "key-id" -> keyId.toLong,
            "value-id" -> valId.toLong, "key" -> kj,
            "value-required" -> !m.valueContainsNull, "value" -> vj))
      case other => (other, scalarName(other))
    }
    val (st, json) = walk(schema)
    (st.asInstanceOf[StructType], next,
      json.asInstanceOf[ListMap[String, Any]])
  }

  private def scalarName(t: DataType): String = t match {
    case BooleanType => "boolean"
    case IntegerType | ShortType | ByteType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case DateType => "date"
    case TimestampNTZType => "timestamp"
    case TimestampType => "timestamptz"
    case StringType => "string"
    case BinaryType => "binary"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case other => sys.error(s"no Iceberg type for ${other.simpleString}")
  }

  /** One data file of a commit: absolute path, size, rows. Staged
    * files come from a Spark write job; MIRROR files ([[createMirror]]
    * / [[commitMirror]]) are adopted as-is from GraftTable manifests —
    * same manifest-scale facts either way. */
  private[sources] case class StagedFile(path: String, size: Long, rows: Long,
                                         partition: Seq[Any] = Nil)

  /** One identity partition field of the current default spec,
    * resolved against the current schema. */
  private case class PartField(name: String, sourceId: Long, fieldId: Long,
                               sparkType: DataType)

  /** The current default spec's fields as [[PartField]]s — empty for
    * an unpartitioned table; NON-IDENTITY transforms refuse (bucket/
    * truncate/days/... are a whole evaluation engine — producing
    * wrong partition values silently is worse than refusing). */
  private def partFieldsOf(meta: Any, root: String): Seq[PartField] = {
    val specId = Json.long(meta, "default-spec-id").getOrElse(0L)
    val fields = Json.list(meta, "partition-specs")
      .find(s => Json.long(s, "spec-id").contains(specId))
      .map(s => Json.list(s, "fields"))
      .getOrElse(Nil)
    if (fields.isEmpty) return Nil
    val schemaObj = currentSchemaObj(meta)
    val byId = Json.list(schemaObj, "fields")
      .flatMap(f => Json.long(f, "id").map(_ -> f)).toMap
    fields.map { f =>
      val transform = Json.str(f, "transform").getOrElse("?")
      require(transform == "identity",
        s"Iceberg table at $root partitions by transform '$transform'; " +
          "this writer implements identity transforms only — producing " +
          "wrong partition values silently is worse than refusing")
      val srcId = Json.long(f, "source-id")
        .getOrElse(sys.error(s"partition field without source-id at $root"))
      val src = byId.getOrElse(srcId, sys.error(
        s"partition source-id $srcId resolves to no schema field at $root"))
      val st = IcebergRead.toSpark(Json.get(src, "type"))
      PartField(Json.str(f, "name").getOrElse(Json.str(src, "name").get),
        srcId, Json.long(f, "field-id").getOrElse(1000L), st)
    }
  }

  /** Spark type → the Avro type name a partition value serializes
    * under in manifests (simple identity-partitionable types only). */
  private def partAvroType(t: DataType, root: String): String = t match {
    case LongType => "long"
    case IntegerType | ShortType | ByteType => "int"
    case StringType => "string"
    case BooleanType => "boolean"
    case DoubleType => "double"
    case FloatType => "float"
    case other => sys.error(s"identity partition column of type $other at " +
      s"$root is not supported by this writer (long/int/string/boolean/" +
      "double/float are)")
  }

  /** Parse one hive-dir partition value string back to the column's
    * runtime type (the staged `__gp_<col>=<value>` dir names). */
  private def partValue(s: String, t: DataType): Any = t match {
    case LongType => java.lang.Long.valueOf(s)
    case IntegerType | ShortType | ByteType => Integer.valueOf(s)
    case StringType => s
    case BooleanType => java.lang.Boolean.valueOf(s)
    case DoubleType => java.lang.Double.valueOf(s)
    case FloatType => java.lang.Float.valueOf(s)
    case other => sys.error(s"unsupported partition type $other")
  }

  /** The spec's name-mapping JSON (§Name Mapping Serialization) for an
    * id-stamped schema obj: `[{"field-id":N,"names":["col"],…}]`,
    * recursing into structs and emitting the standard element/key/value
    * names for lists/maps. Stored as the `schema.name-mapping.default`
    * table property, it is how conformant readers (Iceberg Java,
    * PyIceberg — their `add_files`/migrate path) resolve data files
    * that carry NO parquet field ids, which is exactly what a
    * zero-copy mirror of GraftTable parquet adopts. */
  private[sources] def nameMapping(schemaObj: Any): List[Map[String, Any]] = {
    def ofType(t: Any): List[Map[String, Any]] = Json.str(t, "type") match {
      case Some("struct") => Json.list(t, "fields").map { f =>
        val base = ListMap[String, Any](
          "field-id" -> Json.long(f, "id").get,
          "names" -> List(Json.str(f, "name").get))
        val nested = ofType(Json.get(f, "type"))
        if (nested.isEmpty) base else base ++ ListMap("fields" -> nested)
      }
      case Some("list") =>
        List(ListMap[String, Any](
          "field-id" -> Json.long(t, "element-id").get,
          "names" -> List("element")) ++ {
          val nested = ofType(Json.get(t, "element"))
          if (nested.isEmpty) ListMap.empty else ListMap("fields" -> nested)
        })
      case Some("map") =>
        List(
          ListMap[String, Any]("field-id" -> Json.long(t, "key-id").get,
            "names" -> List("key")),
          ListMap[String, Any]("field-id" -> Json.long(t, "value-id").get,
            "names" -> List("value")) ++ {
            val nested = ofType(Json.get(t, "value"))
            if (nested.isEmpty) ListMap.empty else ListMap("fields" -> nested)
          })
      case _ => Nil // scalar leaf (the type is its name string)
    }
    ofType(schemaObj)
  }

  /** Create a new Iceberg table at `root` whose data files are
    * `files` ADOPTED AS-IS (hard-linked by the caller, never
    * rewritten): the spec's migration path — the table carries
    * `schema.name-mapping.default` so conformant readers resolve the
    * id-less parquet by mapped name. The zero-copy twin of [[create]]
    * for [[GraftTable.exportIceberg]]. Returns the snapshot id (1). */
  private[sources] def createMirror(root: String, schema: StructType,
                                    files: Seq[StagedFile]): Long = {
    val metaDir = Paths.get(root, "metadata")
    require(!Files.isDirectory(metaDir) || {
      val ls = Files.list(metaDir)
      try !ls.iterator().asScala.exists(
        _.getFileName.toString.matches("v\\d+\\.metadata\\.json"))
      finally ls.close()
    }, s"Iceberg table already exists at $root")
    val (_, lastColumnId, schemaJson) = assignIds(schema)
    val schemaObj = schemaJson ++ ListMap("schema-id" -> 0L)
    val snapId = 1L
    val manifest = writeManifest(root, files, snapId, sequenceNumber = 1L,
      Json.render(schemaObj), schemaId = 0L)
    val mlPath = writeManifestList(root, snapId, parent = None, seq = 1L,
      Seq(manifest))
    val meta = ListMap(
      "format-version" -> 2L,
      "table-uuid" -> UUID.randomUUID().toString,
      "location" -> Paths.get(root).toAbsolutePath.toString,
      "last-sequence-number" -> 1L,
      "last-updated-ms" -> System.currentTimeMillis(),
      "last-column-id" -> lastColumnId.toLong,
      "current-schema-id" -> 0L,
      "schemas" -> List(schemaObj),
      "default-spec-id" -> 0L,
      "partition-specs" -> List(ListMap(
        "spec-id" -> 0L, "fields" -> Nil)),
      "last-partition-id" -> 999L,
      "default-sort-order-id" -> 0L,
      "sort-orders" -> List(ListMap(
        "order-id" -> 0L, "fields" -> Nil)),
      "properties" -> ListMap(
        "schema.name-mapping.default" -> Json.render(nameMapping(schemaObj))),
      "current-snapshot-id" -> snapId,
      "snapshots" -> List(snapshotEntry(root, snapId, parent = None,
        seq = 1L, mlPath, "append")))
    commitMetadata(root, 1, meta).getOrElse(
      throw new ConcurrentWriteException(
        s"Iceberg table at $root was created concurrently"))
    snapId
  }

  /** Publish `files` as the COMPLETE live set of the next snapshot —
    * one full-listing manifest, the same manifest-scale arithmetic as
    * GraftTable's own snapshots (zero data bytes move; the caller
    * hard-links new files first). `summaryExtra` rides in the
    * snapshot summary (the mirror's graft-version crash-adoption
    * tag). Optimistic concurrency like [[commitData]]. */
  private[sources] def commitMirror(root: String, files: Seq[StagedFile],
                                    op: String,
                                    summaryExtra: Map[String, String] = Map.empty)
      : Long = {
    var attempts = 0
    while (true) {
      val baseV = highestMetaVersion(root)
      require(baseV >= 1, s"not an Iceberg table: no vN.metadata.json at $root")
      val meta = writableMeta(root, baseV)
      require(partFieldsOf(meta, root).isEmpty,
        s"the Iceberg mirror target at $root is PARTITIONED; the " +
          "GraftTable mirror stages unpartitioned entries only")
      val schemaObj = currentSchemaObj(meta)
      val lastSeq = Json.long(meta, "last-sequence-number").getOrElse(0L)
      val seq = lastSeq + 1
      val snaps = Json.list(meta, "snapshots")
      val snapId = snaps.flatMap(s => Json.long(s, "snapshot-id"))
        .foldLeft(0L)(math.max) + 1
      val parent = Json.long(meta, "current-snapshot-id")
      val schemaId = Json.long(meta, "current-schema-id").getOrElse(0L)
      val manifest = writeManifest(root, files, snapId, seq,
        Json.render(schemaObj), schemaId)
      val mlPath = writeManifestList(root, snapId, parent, seq, Seq(manifest))
      val newSnap = snapshotEntry(root, snapId, parent, seq, mlPath, op,
        schemaId, summaryExtra)
      val m = meta.asInstanceOf[Map[String, Any]]
      val updated = m ++ ListMap(
        "last-sequence-number" -> seq,
        "last-updated-ms" -> System.currentTimeMillis(),
        "current-snapshot-id" -> snapId,
        "snapshots" -> (snaps :+ newSnap))
      commitMetadata(root, baseV + 1, updated) match {
        case Some(_) => return snapId
        case None =>
          attempts += 1
          require(attempts < 64,
            s"mirror commit at $root lost $attempts races — giving up")
        // data files are the mirror's hard links — never deleted on a
        // lost race (idempotent linkOrCopy re-adopts them); only the
        // unpublished manifest avro leaks, vacuum-scale noise
      }
    }
    sys.error("unreachable")
  }

  /** One distributed parquet job under the id-stamped schema — Spark
    * stamps `parquet.field.id` into every footer (fieldId.write is on
    * by default; the reader REFUSES id-less files, so a round-trip
    * cannot pass if this silently stops working). */
  private def stage(spark: SparkSession, df: DataFrame, root: String,
                    idSchema: StructType,
                    partFields: Seq[PartField] = Nil): Seq[StagedFile] = {
    val dataDir = Paths.get(root, "data")
    Files.createDirectories(dataDir)
    val stg = Paths.get(root, s".iceberg-stage-${UUID.randomUUID()}")
    val base = spark.createDataFrame(
      df.toDF(idSchema.fieldNames.toIndexedSeq: _*).rdd, idSchema)
    val writer =
      if (partFields.isEmpty) base.write
      else {
        // identity sources must STAY in the data files (the spec stores
        // them as ordinary columns), but Spark's partitionBy CONSUMES
        // its columns — so the split runs on `__gp_` DUPLICATES: one
        // distributed job, hive-layout staging dirs carrying the tuple,
        // full-width parquet inside
        val dup = partFields.foldLeft(base)((d, p) =>
          d.withColumn("__gp_" + p.name, col(s"`${p.name}`")))
        dup.write.partitionBy(partFields.map("__gp_" + _.name): _*)
      }
    LocalFs.staged(stg, writer) { staged =>
      val moved = scala.collection.mutable.ArrayBuffer.empty[Path]
      try staged.map { p =>
        // the partition tuple rides the staging dir names (__gp_c=v),
        // hive-unescaped and parsed back to the column's runtime
        // type; a null partition value refuses — the hive default
        // marker is not a value any identity-partitioned reader can
        // prune on
        val dirs = stg.relativize(p).iterator().asScala
          .map(_.toString).toVector.dropRight(1)
        val partition: Seq[Any] = partFields.map { pf =>
          val pre = s"__gp_${pf.name}="
          val raw = dirs.find(_.startsWith(pre)).map(_.stripPrefix(pre))
            .getOrElse(sys.error(s"staged file $p carries no " +
              s"${pf.name} partition dir"))
          require(raw != "__HIVE_DEFAULT_PARTITION__",
            s"partition column ${pf.name} has NULL values — an identity " +
              "partition tuple must be concrete; filter or fill first")
          partValue(ExternalCatalogUtils.unescapePathName(raw), pf.sparkType)
        }
        // partitioned files keep a hive-style layout under data/ (the
        // same `c=v` dirs, `__gp_` stripped) — human-readable, and
        // the dir split is what makes same-named part files from one
        // job's different partitions collision-free
        val destDir = dirs.foldLeft(dataDir)((d, seg) =>
          d.resolve(seg.stripPrefix("__gp_")))
        Files.createDirectories(destDir)
        val dest = destDir.resolve(p.getFileName)
        Files.move(p, dest)
        moved += dest
        StagedFile(dest.toAbsolutePath.toString, Files.size(dest),
          LocalFs.parquetRows(dest), partition)
      } catch {
        case e: Throwable =>
          // a mid-map refusal (null tuple, unparsable dir) must not
          // strand already-moved files as orphans under data/
          moved.foreach(Files.deleteIfExists(_))
          throw e
      }
    }
  }

  // -- avro ------------------------------------------------------------

  /** v2 manifest entry schema, field ids per the spec (§Manifests). */
  private val manifestSchemaJson: String =
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int","field-id":0},
      |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
      | {"name":"content","type":"int","field-id":134},
      | {"name":"file_path","type":"string","field-id":100},
      | {"name":"file_format","type":"string","field-id":101},
      | {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[]}},
      | {"name":"record_count","type":"long","field-id":103},
      | {"name":"file_size_in_bytes","type":"long","field-id":104},
      | {"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135}
      |]}}]}""".stripMargin

  private val manifestSchema: Schema =
    new Schema.Parser().parse(manifestSchemaJson)

  /** The manifest-entry schema with `partition` widened to the
    * identity spec's fields (nullable, spec field ids riding as
    * `field-id`). Unpartitioned = the static [[manifestSchema]].
    * Avro names are strict, so partition column names outside
    * `[A-Za-z_][A-Za-z0-9_]*` refuse rather than emitting an
    * unparseable manifest. */
  private def manifestSchemaFor(partFields: Seq[PartField],
                                root: String): Schema = {
    if (partFields.isEmpty) return manifestSchema
    val fieldJsons = partFields.map { p =>
      require(p.name.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"partition column name '${p.name}' at $root is not a valid Avro " +
          "record field name — rename the column")
      s"""{"name":"${p.name}","type":["null","${partAvroType(p.sparkType, root)}"],"default":null,"field-id":${p.fieldId}}"""
    }.mkString(",")
    new Schema.Parser().parse(
      manifestSchemaJson.replace(
        """{"type":"record","name":"r102","fields":[]}""",
        s"""{"type":"record","name":"r102","fields":[$fieldJsons]}"""))
  }

  /** v2 manifest-list schema (§Manifest Lists). */
  private val manifestListSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514}
      |]}""".stripMargin)

  private def writeAvro(dest: Path, schema: Schema,
                        rows: Seq[GenericRecord],
                        meta: Map[String, String]): Unit = {
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, dest.toFile)
    try rows.foreach(w.append) finally w.close()
  }

  /** One manifest: every `files` entry status=1 (ADDED by `snapId` at
    * `sequenceNumber`). The Avro file carries the key-value metadata
    * the spec REQUIRES on manifests — `schema`, `schema-id`,
    * `partition-spec` (the spec's fields array, always empty here),
    * `partition-spec-id`, `format-version`, `content` — which is
    * where conformant readers (Iceberg Java, PyIceberg) get the
    * partition spec and format version from (ADVICE r13: without it
    * they cannot open the table at all). Returns the manifest-list
    * row describing it. */
  private def writeManifest(root: String, files: Seq[StagedFile],
                            snapId: Long, sequenceNumber: Long,
                            schemaJson: String, schemaId: Long,
                            content: Int = 0,
                            equalityIds: Seq[Long] = Nil,
                            partFields: Seq[PartField] = Nil,
                            specId: Long = 0L)
      : Map[String, Any] = {
    // `content` is the spec's DATA-FILE code (0 data, 1 position
    // deletes, 2 equality deletes); the manifest/manifest-list level
    // only distinguishes data (0) from deletes (1)
    val mlContent = if (content == 0) 0 else 1
    val metaDir = Paths.get(root, "metadata")
    Files.createDirectories(metaDir)
    val dest = metaDir.resolve(s"m-${UUID.randomUUID()}.avro")
    val entrySchema = manifestSchemaFor(partFields, root)
    val dfSchema = entrySchema.getField("data_file").schema()
    val partSchema = dfSchema.getField("partition").schema()
    val rows = files.map { f =>
      val df = new GenericData.Record(dfSchema)
      df.put("content", content)
      df.put("file_path", f.path)
      df.put("file_format", "PARQUET")
      val part = new GenericData.Record(partSchema)
      partFields.zip(f.partition).foreach { case (pf, v) =>
        part.put(pf.name, v)
      }
      df.put("partition", part)
      df.put("record_count", f.rows)
      df.put("file_size_in_bytes", f.size)
      if (equalityIds.nonEmpty)
        df.put("equality_ids",
          equalityIds.map(i => Integer.valueOf(i.toInt)).asJava)
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1)
      e.put("snapshot_id", snapId)
      e.put("sequence_number", sequenceNumber)
      e.put("file_sequence_number", sequenceNumber)
      e.put("data_file", df)
      e
    }
    val specJson = Json.render(partFields.map(p => ListMap(
      "name" -> p.name, "transform" -> "identity",
      "source-id" -> p.sourceId, "field-id" -> p.fieldId)).toList)
    writeAvro(dest, entrySchema, rows, ListMap(
      "schema" -> schemaJson,
      "schema-id" -> schemaId.toString,
      "partition-spec" -> specJson,
      "partition-spec-id" -> specId.toString,
      "format-version" -> "2",
      "content" -> (if (mlContent == 1) "deletes" else "data")))
    ListMap(
      "manifest_path" -> dest.toAbsolutePath.toString,
      "manifest_length" -> Files.size(dest),
      "partition_spec_id" -> specId,
      "content" -> mlContent.toLong,
      "sequence_number" -> sequenceNumber,
      "min_sequence_number" -> sequenceNumber,
      "added_snapshot_id" -> snapId,
      "added_files_count" -> files.size.toLong,
      "existing_files_count" -> 0L,
      "deleted_files_count" -> 0L,
      "added_rows_count" -> files.map(_.rows).sum,
      "existing_rows_count" -> 0L,
      "deleted_rows_count" -> 0L)
  }

  /** A carried (prior) manifest-list row, re-expressed in OUR list
    * schema; the manifest avro file itself is untouched. Data-content
    * only — the reader refuses delete manifests before any write. */
  private def manifestFileAsMap(root: String, r: GenericRecord)
      : Map[String, Any] = {
    def l(name: String, dflt: Long): Long =
      if (r.getSchema.getField(name) == null) dflt
      else Option(r.get(name)).map(_.toString.toLong).getOrElse(dflt)
    ListMap(
      "manifest_path" -> IcebergRead.resolve(root,
        r.get("manifest_path").toString),
      "manifest_length" -> l("manifest_length", 0L),
      "partition_spec_id" -> l("partition_spec_id", 0L),
      "content" -> l("content", 0L),
      "sequence_number" -> l("sequence_number", 0L),
      "min_sequence_number" -> l("min_sequence_number", 0L),
      "added_snapshot_id" -> l("added_snapshot_id", 0L),
      "added_files_count" -> l("added_files_count", 0L),
      "existing_files_count" -> l("existing_files_count", 0L),
      "deleted_files_count" -> l("deleted_files_count", 0L),
      "added_rows_count" -> l("added_rows_count", 0L),
      "existing_rows_count" -> l("existing_rows_count", 0L),
      "deleted_rows_count" -> l("deleted_rows_count", 0L))
  }

  private def writeManifestList(root: String, snapId: Long,
                                parent: Option[Long], seq: Long,
                                manifests: Seq[Map[String, Any]]): String = {
    val metaDir = Paths.get(root, "metadata")
    Files.createDirectories(metaDir)
    val dest = metaDir.resolve(s"snap-$snapId-${UUID.randomUUID()}.avro")
    val rows = manifests.map { m =>
      val r = new GenericData.Record(manifestListSchema)
      m.foreach { case (k, v) =>
        val f = manifestListSchema.getField(k)
        val isInt = f.schema().getType == Schema.Type.INT
        r.put(k, v match {
          case l: Long if isInt => l.toInt
          case l: Long => l
          case s: String => s
          case other => other
        })
      }
      r
    }
    // manifest lists carry the commit identity in their key-value
    // metadata (spec + what Iceberg Java / PyIceberg emit)
    writeAvro(dest, manifestListSchema, rows, ListMap(
      "snapshot-id" -> snapId.toString,
      "parent-snapshot-id" -> parent.map(_.toString).getOrElse("null"),
      "sequence-number" -> seq.toString,
      "format-version" -> "2"))
    dest.toAbsolutePath.toString
  }

  private def snapshotEntry(root: String, snapId: Long, parent: Option[Long],
                            seq: Long, mlPath: String, op: String,
                            schemaId: Long = 0L,
                            summaryExtra: Map[String, String] = Map.empty)
      : Map[String, Any] =
    ListMap(
      "snapshot-id" -> snapId,
      "sequence-number" -> seq,
      "timestamp-ms" -> System.currentTimeMillis(),
      "manifest-list" -> mlPath,
      "schema-id" -> schemaId,
      "summary" -> (ListMap[String, Any]("operation" -> op) ++ summaryExtra)) ++
      parent.map(p => ListMap("parent-snapshot-id" -> p)).getOrElse(ListMap.empty)

  private def highestMetaVersion(root: String): Int = {
    val metaDir = Paths.get(root, "metadata")
    if (!Files.isDirectory(metaDir)) 0
    else {
      val ls = Files.list(metaDir)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.matches("v\\d+\\.metadata\\.json") =>
          n.stripPrefix("v").stripSuffix(".metadata.json").toInt }
        .foldLeft(0)(math.max)
      finally ls.close()
    }
  }

  /** Claim `v<N>.metadata.json` atomically (link first-wins); update
    * the hint only after winning. None = slot taken (caller re-folds
    * or refuses). */
  private def commitMetadata(root: String, v: Int,
                             meta: Map[String, Any]): Option[Int] = {
    val metaDir = Paths.get(root, "metadata")
    Files.createDirectories(metaDir)
    if (!LocalFs.writeOnce(metaDir.resolve(s"v$v.metadata.json"),
        Json.render(meta))) None
    else {
      LocalFs.replaceAtomically(metaDir.resolve("version-hint.text"), v.toString)
      Some(v)
    }
  }
}
