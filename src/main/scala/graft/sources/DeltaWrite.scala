package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.util.Json

/** Write-side interop with the OPEN Delta Lake table protocol — the
  * counterpart of [[DeltaRead]], closing the declared storage-interop
  * ceiling from "Delta tables are read-only here" to "the engine can
  * create, append to, overwrite, and checkpoint Delta tables any
  * protocol-conformant reader can consume". Like the reader it is
  * implemented from PROTOCOL.md alone: a commit is one atomically
  * published newline-delimited-JSON file of actions, data files are
  * ordinary parquet that Spark's own writer produces, and the
  * checkpoint is ordinary parquet — no Delta library is involved.
  *
  * Commit protocol (optimistic concurrency, as the spec prescribes):
  * actions are staged to a hidden temp file and PUBLISHED by hard-link
  * to `_delta_log/<v>.json` — link(2) fails with EEXIST atomically, so
  * a version slot is won exactly once ever (the same first-wins
  * publish [[GraftTable]] proved under an 8-thread race; rename(2)
  * would silently replace a concurrent winner's commit). A losing
  * `append` re-folds the log and retries at the next version (blind
  * appends commute unless the re-fold shows the table changed shape);
  * a losing `overwrite`/`create` throws
  * [[GraftTable.ConcurrentWriteException]] — its remove-set was
  * computed against a state that no longer exists, and only the caller
  * can decide whether to re-derive it.
  *
  * Spec conformance the writer enforces rather than assumes:
  *   - protocol (1, 2) is declared on create — (3, 7) with
  *     columnMapping when a mapped table is created. COLUMN MAPPING
  *     (r15) writes in BOTH modes: [[stage]] projects frames to their
  *     physical col-<uuid> shape (footer field ids under `id` mode)
  *     and keys partitionValues and stats physically, as the spec's
  *     writer requirements mandate. Legacy feature bundles
  *     `minWriterVersion` 3–6 write iff every bundled feature is
  *     implemented here or PROVABLY UNUSED by the table
  *     ([[checkLegacyUnused]] — a real user's mapped table usually
  *     arrives as (2,5)); TABLE FEATURES (version 7) write iff every
  *     listed writerFeature is implemented here (appendOnly,
  *     invariants, columnMapping, deletionVectors — see
  *     [[deleteWithDv]], which also performs the (1,2)→(3,7) upgrade
  *     the first time a vector is written), and every file action
  *     carries the spec's (path, deletion-vector) logical-file
  *     identity;
  *   - minWriterVersion=2 means invariants must be honored: a schema
  *     carrying `delta.invariants` metadata is refused (this writer
  *     does not evaluate invariant expressions), and
  *     `delta.appendOnly=true` refuses [[overwrite]];
  *   - partition values are serialized per the spec's rules, which
  *     restricts partitioning here to the types whose serialization is
  *     byte-identical to the hive directory form Spark emits (string /
  *     byte / short / int / long / date / boolean) — others are
  *     refused loudly. Values that hive layout cannot represent
  *     faithfully (null-vs-literal `__HIVE_DEFAULT_PARTITION__`, empty
  *     string) are detected and refused rather than round-tripped
  *     wrong;
  *   - `add.path` is percent-encoded (RFC 2396) relative to the table
  *     root; `stats` carries `numRecords` read from each parquet
  *     footer so downstream readers get file-skipping row counts.
  *
  * 100 TB shape: the DATA moves through one distributed
  * `df.write.partitionBy(...).parquet` job (executor-side parquet
  * writers, partition columns dropped from the files exactly as the
  * protocol expects); the driver touches only file-level metadata —
  * the same manifest-scale arithmetic as [[GraftTable]]. Staging lives
  * under the table root so publishing a data file is a same-filesystem
  * rename. Like GraftTable this targets a shared POSIX filesystem; an
  * object-store commit service is out of scope.
  *
  * Validation note: no independent Delta implementation exists in the
  * offline dependency budget (DuckDB's delta extension needs egress),
  * so conformance is proven three-way instead — golden assertions on
  * the raw JSON the writer emits (DeltaWriteSpec parses every action
  * line and checks the spec's required fields), round-trip through
  * [[DeltaRead]] (which was itself pinned against hand-authored
  * fixtures and the DeltaFoldProps model BEFORE this writer existed),
  * and a writer-driven model property (DeltaWriteProps) where random
  * create/append/overwrite sequences must reconstruct an in-memory
  * model at every version.
  */
object DeltaWrite {

  import GraftTable.ConcurrentWriteException

  /** Create a new Delta table at `root` from `df`, optionally
    * hive-partitioned by `partitionBy`. Refuses if any Delta log
    * already exists there. Returns the created version (always 0).
    *
    * Passing
    * `delta.columnMapping.mode=name|id` in `configuration` creates a
    * COLUMN-MAPPED table (r15): every field (nested included) is
    * assigned a fresh `col-<uuid>` physical name and a field id,
    * `delta.columnMapping.maxColumnId` records the high-water mark the
    * spec requires for schema evolution, the data files are written
    * under the physical names (plus footer field ids), and the
    * protocol declares table features (3,7) with columnMapping in both
    * lists — the shape a renamed/dropped column needs from day one. */
  def create(spark: SparkSession, df: DataFrame, root: String,
             partitionBy: Seq[String] = Nil,
             configuration: Map[String, String] = Map.empty): Long = {
    val log = Paths.get(root, "_delta_log")
    require(!Files.isDirectory(log) || {
      val ls = Files.list(log)
      try !ls.iterator().asScala.exists(_.getFileName.toString.matches("\\d{20}\\.json"))
      finally ls.close()
    }, s"Delta table already exists at $root — use append/overwrite")
    checkPartitionable(df.schema, partitionBy)
    refuseInvariants(df.schema, root)
    val cm = configuration.getOrElse("delta.columnMapping.mode", "none")
    require(cm == "none" || cm == "name" || cm == "id",
      s"unknown delta.columnMapping.mode=$cm (none, name, id)")
    val cdf =
      configuration.getOrElse("delta.enableChangeDataFeed", "false") == "true"
    val (schema, conf) =
      if (cm == "none") (df.schema, configuration)
      else {
        val (decorated, maxId) = decorateMapping(df.schema)
        (decorated, configuration +
          ("delta.columnMapping.maxColumnId" -> maxId.toString))
      }
    // protocol: (1,2) plain; table features (x,7) when column mapping
    // (a READER feature too → minReader 3 + readerFeatures) and/or CDF
    // (writer-only → minReader stays 1, no readerFeatures key) is on
    val proto: ListMap[String, Any] =
      if (cm == "none" && !cdf)
        ListMap("protocol" -> ListMap(
          "minReaderVersion" -> 1L, "minWriterVersion" -> 2L))
      else {
        val wf = LegacyV2Features ++
          (if (cm != "none") Set("columnMapping") else Set.empty) ++
          (if (cdf) Set("changeDataFeed") else Set.empty)
        ListMap("protocol" -> (ListMap[String, Any](
          "minReaderVersion" -> (if (cm != "none") 3L else 1L),
          "minWriterVersion" -> 7L) ++
          (if (cm != "none")
            ListMap[String, Any]("readerFeatures" -> Seq("columnMapping"))
          else ListMap.empty[String, Any]) ++
          ListMap[String, Any]("writerFeatures" -> wf.toSeq.sorted)))
      }
    val mapping = if (cm == "none") None else Some((cm, schema))
    val adds = stage(spark, df, root, partitionBy, mapping = mapping)
    // metaData.partitionColumns stay LOGICAL (they resolve against the
    // schema's names); only partitionValues keys and file paths go
    // physical — the spec's split, and what the reader expects
    val actions = Vector(
      commitInfo("CREATE TABLE AS SELECT"), proto,
      metaData(schema, partitionBy, conf)) ++ adds
    commit(root, 0L, actions) match {
      case Some(v) => v
      case None =>
        cleanup(root, adds)
        throw new ConcurrentWriteException(
          s"version 0 was created concurrently at $root")
    }
  }

  /** Append `df` to the Delta table at `root`. The schema must match
    * the table's (by name, order-free; a nullable column cannot land
    * in a required slot). Loses races by retrying at the next version
    * — blind appends commute — unless the re-folded table changed
    * schema or protocol underneath. Returns the committed version.
    *
    * `txn = Some((appId, version))` makes the append IDEMPOTENT via
    * the protocol's SetTransaction action — the exactly-once handshake
    * streaming writers use: the commit carries
    * `{"txn":{"appId":…,"version":…}}`, and an append whose version is
    * already ≤ the table's folded ledger entry for that appId is
    * SKIPPED (nothing staged, nothing committed — the spec's replay
    * rule). The ledger is also re-checked after every lost commit
    * race, so two replays of the same micro-batch racing each other
    * commit exactly one. */
  def append(spark: SparkSession, df: DataFrame, root: String,
             txn: Option[(String, Long)] = None): Long =
    appendTo(spark, df, root, txn, writableState(spark, root))

  /** [[append]] against `st`, a state the caller already folded and
    * checked with [[checkWritable]]. */
  private def appendTo(spark: SparkSession, df: DataFrame, root: String,
                       txn: Option[(String, Long)],
                       st: DeltaRead.TableState): Long = {
    def alreadyApplied(s: DeltaRead.TableState): Boolean =
      txn.exists { case (app, v) => s.txns.get(app).exists(_ >= v) }
    if (alreadyApplied(st)) return st.version
    val aligned = align(df, st.meta)
    val adds = stage(spark, aligned, root, st.meta.partitionCols,
      mapping = mappingOf(st.meta))
    val txnActions = txn.toVector.map { case (app, v) =>
      ListMap[String, Any]("txn" -> ListMap(
        "appId" -> app, "version" -> v,
        "lastUpdated" -> System.currentTimeMillis()))
    }
    val actions = (commitInfo("WRITE", "Append") +: txnActions) ++ adds
    var v = st.version + 1
    var attempts = 0
    while (attempts < 64) {
      commit(root, v, actions) match {
        case Some(done) => return done
        case None =>
          attempts += 1
          val now = writableState(spark, root) // re-validate: the race
          if (alreadyApplied(now)) { // winner may BE this txn's replay
            cleanup(root, adds)
            return now.version
          }
          if (now.meta.schema != st.meta.schema ||  // schema moved —
              now.meta.partitionCols != st.meta.partitionCols) { // adds
            cleanup(root, adds) // may no longer be well-formed
            throw new ConcurrentWriteException(
              s"table at $root changed schema during append — re-read and retry")
          }
          v = now.version + 1
      }
    }
    cleanup(root, adds)
    throw new ConcurrentWriteException(
      s"append to $root lost $attempts commit races — giving up")
  }

  /** `foreachBatch` sink appending each streaming micro-batch to the
    * Delta table at `root` EXACTLY ONCE across crash/replay, via the
    * protocol's SetTransaction ledger (the handshake every conformant
    * engine understands — unlike [[GraftTable.upsertSink]]'s manifest
    * marker, the dedup state here lives in the Delta log itself, so
    * foreign readers of the same table observe each batch once too).
    * A replayed micro-batch (batchId ≤ the folded ledger's version
    * for `appId`) is skipped by [[append]]'s txn gate; the frame is
    * still materialized because upstream stateful operators commit
    * their state stores during it (Spark's
    * STATE_STORE_COMMIT_VALIDATION — the bug ReplayLifecycleSpec
    * caught in r13).
    *
    *   stream.writeStream.foreachBatch(DeltaWrite.appendSink(root,
    *     "my-app")).option("checkpointLocation", …).start()
    */
  def appendSink(root: String, appId: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val st = DeltaRead.state(spark, root, Long.MaxValue) // one fold per batch
      if (st.txns.get(appId).exists(_ >= batchId))
        batch.foreach(_ => ()) // replayed: table no-op, state stores commit
      else
        appendTo(spark, batch.toDF(), root, Some((appId, batchId)),
          checkWritable(st, root))
    }

  /** Replace the table's entire contents with `df` (same schema rules
    * as [[append]]). Emits `remove` tombstones for every live file
    * plus the new adds in ONE commit; a lost race is NOT retried —
    * the remove-set was computed against a state that no longer
    * exists. Refused on `delta.appendOnly` tables. */
  def overwrite(spark: SparkSession, df: DataFrame, root: String): Long = {
    val st = writableState(spark, root)
    require(st.meta.configuration.getOrElse("delta.appendOnly", "false") != "true",
      s"Delta table at $root sets delta.appendOnly=true — refusing overwrite")
    val aligned = align(df, st.meta)
    val adds = stage(spark, aligned, root, st.meta.partitionCols,
      mapping = mappingOf(st.meta))
    val ts = System.currentTimeMillis()
    val removes = st.live.map { case (p, _) =>
      removeAction(p, st.dvs.get(p), ts)
    }
    val actions = (commitInfo("WRITE", "Overwrite") +: removes) ++ adds
    commit(root, st.version + 1, actions) match {
      case Some(v) => v
      case None =>
        cleanup(root, adds)
        throw new ConcurrentWriteException(
          s"version ${st.version + 1} of $root was committed concurrently " +
            "during overwrite — re-read and retry")
    }
  }

  /** DELETE FROM: rewrite ONLY the files holding rows where
    * `predicate` is TRUE (SQL semantics — NULL keeps the row), remove
    * them and add their kept-row rewrites in one commit. Affected
    * files are found by one predicate scan attributed with
    * `input_file_name` — partition-only predicates prune untouched
    * partitions at planning time, so both the scan and the rewrite are
    * proportional to the MATCHING data, never the table. A no-match
    * delete commits nothing and returns the current version; a lost
    * commit race refuses like [[overwrite]] (the remove-set went
    * stale). Refused on `delta.appendOnly` tables. */
  def delete(spark: SparkSession, root: String,
             predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.input_file_name
    val st = writableState(spark, root)
    require(st.meta.configuration.getOrElse("delta.appendOnly", "false") != "true",
      s"Delta table at $root sets delta.appendOnly=true — refusing delete")
    val matchTrue = predicate <=> org.apache.spark.sql.functions.lit(true)

    // file attribution: canonical filesystem path → live entry.
    // resolve() already percent-decoded add.path exactly once, so the
    // live-set key is a plain normalize — a second decode would turn a
    // hive-escaped partition value ('c=a%3Ab' on disk) into a path
    // that never exists and abort every matching delete (ADVICE r13).
    // Only input_file_name's URI form needs (one) percent-decoding.
    def canon(p: String): String =
      Paths.get(p).toAbsolutePath.normalize.toString
    def canonUri(p: String): String =
      canon(DeltaRead.percentDecode(p.stripPrefix("file:")))
    val liveByPath = st.live.map(f => canon(resolve(root, f._1)) -> f).toMap

    val affected = DeltaRead.plan(spark, root, st.meta, st.live, st.dvs)
      .where(matchTrue)
      .select(input_file_name()).distinct()
      .collect().map(r => liveByPath.getOrElse(canonUri(r.getString(0)),
        sys.error(s"matched file ${r.getString(0)} not in the live set — " +
          "the table changed under the delete")))
    if (affected.isEmpty) return st.version

    // survivors of a DV'd file = its VISIBLE rows minus the matches —
    // the rewrite naturally clears the file's vector (the remove below
    // carries it away)
    val kept = DeltaRead.plan(spark, root, st.meta, affected.toSeq, st.dvs)
      .where(!matchTrue)
    val adds = stage(spark, kept, root, st.meta.partitionCols,
      mapping = mappingOf(st.meta))
    // change data feed: a partial-file delete is NOT derivable from
    // its add/remove actions (a file-level reader would report the
    // rewrite's surviving rows as delete+insert), so when CDF is on
    // the commit must carry authoritative change files — the deleted
    // rows, _change_type=delete (PROTOCOL.md writer requirements)
    val cdcs =
      if (!cdfEnabled(st.meta)) Vector.empty[Map[String, Any]]
      else {
        val deleted = DeltaRead.plan(spark, root, st.meta, affected.toSeq,
          st.dvs).where(matchTrue)
          .select(st.meta.schema.fieldNames.map(col).toIndexedSeq :+
            org.apache.spark.sql.functions.lit("delete")
              .as("_change_type"): _*)
        stageChangeData(spark, deleted, root, st.meta)
      }
    val ts = System.currentTimeMillis()
    val removes = affected.toSeq.map { case (p, _) =>
      removeAction(p, st.dvs.get(p), ts)
    }
    val actions = (commitInfo("DELETE") +: removes) ++ adds ++ cdcs
    commit(root, st.version + 1, actions) match {
      case Some(v) => v
      case None =>
        cleanup(root, adds ++ cdcs)
        throw new ConcurrentWriteException(
          s"version ${st.version + 1} of $root was committed concurrently " +
            "during delete — re-read and retry")
    }
  }

  /** DELETE FROM without rewriting a single data byte: the matching
    * rows' physical positions become DELETION VECTORS (PROTOCOL.md
    * "Deletion Vectors") — each affected file is re-added with a
    * vector naming its dead rows, the previous (path, dv) entry is
    * removed, and readers drop the positions at scan time. THE
    * 100 TB delete: a predicate hitting k rows costs one scan, a
    * (file, pos)-keyed combine of k positions, and manifest-scale
    * metadata — where [[delete]]'s copy-on-write rewrites every
    * affected FILE. A file whose every visible row dies is removed
    * outright (no empty-shell DV).
    *
    * Positions are aggregated into serialized bitmaps EXECUTOR-side
    * (`groupByKey(file).mapGroups`): the driver receives one
    * bitmap-sized blob per affected file — bounded by vector bytes,
    * never by deleted-row count. An existing vector is UNIONED in (the
    * spec: a file's new DV must contain every previously deleted
    * position), and all of the commit's vectors land in ONE on-disk
    * `.bin` file.
    *
    * First DV on a (1,2) table upgrades the protocol in the same
    * commit — minReader 3 / minWriter 7 with
    * readerFeatures=[deletionVectors] and writerFeatures listing the
    * legacy features version 2 implied plus deletionVectors — and
    * stamps `delta.enableDeletionVectors=true` into the table
    * configuration via a metaData action that PRESERVES id and
    * createdTime. Lost commit races refuse like [[delete]] (the
    * remove-set went stale); the orphaned vector file is cleaned up. */
  def deleteWithDv(spark: SparkSession, root: String,
                   predicate: org.apache.spark.sql.Column): Long = {
    val st = writableState(spark, root)
    require(st.meta.configuration.getOrElse("delta.appendOnly", "false") != "true",
      s"Delta table at $root sets delta.appendOnly=true — refusing delete")
    val matchTrue = predicate <=> org.apache.spark.sql.functions.lit(true)

    import spark.implicits._
    val hits = DeltaRead.planWithMeta(spark, root, st.meta, st.live, st.dvs)
      .where(matchTrue)
      .select(col(DeltaRead.MetaFileCol), col(DeltaRead.MetaPosCol))
      .as[(String, Long)]
    val perFile: Array[(String, Array[Byte])] = hits.groupByKey(_._1)
      .mapGroups { (f, it) =>
        val bm = RoaringBitmapArray()
        it.foreach(t => bm.add(t._2))
        bm.runOptimize()
        (f, bm.serialize())
      }.collect()
    if (perFile.isEmpty) return st.version

    def canon(p: String): String =
      Paths.get(p).toAbsolutePath.normalize.toString
    def canonUri(p: String): String =
      canon(DeltaRead.percentDecode(p.stripPrefix("file:")))
    val liveByPath = st.live.map(f => canon(resolve(root, f._1)) -> f).toMap

    // merge with any existing vector; split full-file deletes out
    val merged = perFile.toSeq.map { case (uri, bytes) =>
      val (p, pv) = liveByPath.getOrElse(canonUri(uri),
        sys.error(s"matched file $uri not in the live set — " +
          "the table changed under the delete"))
      val bm = RoaringBitmapArray.deserialize(bytes)
      st.dvs.get(p).foreach(old => bm.orInPlace(DeltaDv.load(root, old)))
      bm.runOptimize()
      (p, pv, bm)
    }
    val (fullyDead, partial) = merged.partition { case (p, _, bm) =>
      bm.cardinality == physicalRows(Paths.get(resolve(root, p)))
    }

    val ts = System.currentTimeMillis()
    val descs =
      if (partial.isEmpty) Nil
      else DeltaDv.writeFile(root, "", partial.map(_._3))
    // upgrade only when a vector is actually WRITTEN — a delete that
    // merely removes whole files must not one-way-bump a (1,2) table
    val needUpgrade = partial.nonEmpty && (st.minReader < 3 ||
      st.minWriter < 7 ||
      !st.readerFeatures.contains("deletionVectors") ||
      !st.writerFeatures.contains("deletionVectors"))
    // a legacy (pre-features) protocol lists NO features, so the
    // (3,7) upgrade must carry forward every legacy-implied feature
    // the table ACTUALLY USES — dropping an in-use columnMapping or
    // changeDataFeed would hand conformant writers a table whose
    // metadata demands behaviors the protocol no longer names
    // (review r15): mapping is a reader AND writer contract, CDF a
    // writer one, TIMESTAMP_NTZ a reader one
    val usesMapping = st.meta.configuration
      .getOrElse("delta.columnMapping.mode", "none") != "none"
    val usesCdf = cdfEnabled(st.meta)
    val usesNtz = {
      def walk(t: DataType): Boolean = t match {
        case TimestampNTZType => true
        case s: StructType => s.fields.exists(f => walk(f.dataType))
        case a: org.apache.spark.sql.types.ArrayType => walk(a.elementType)
        case m: org.apache.spark.sql.types.MapType =>
          walk(m.keyType) || walk(m.valueType)
        case _ => false
      }
      walk(st.meta.schema)
    }
    val upgrade =
      if (!needUpgrade) Vector.empty
      else Vector(
        ListMap[String, Any]("protocol" -> ListMap(
          "minReaderVersion" -> 3L, "minWriterVersion" -> 7L,
          "readerFeatures" ->
            (st.readerFeatures + "deletionVectors" ++
              (if (usesMapping) Set("columnMapping") else Set.empty[String]) ++
              (if (usesNtz) Set("timestampNtz") else Set.empty[String]))
              .toSeq.sorted,
          "writerFeatures" ->
            (st.writerFeatures ++ LegacyV2Features + "deletionVectors" ++
              (if (usesMapping) Set("columnMapping") else Set.empty[String]) ++
              (if (usesCdf) Set("changeDataFeed") else Set.empty[String]))
              .toSeq.sorted)),
        metaDataFrom(st.meta,
          st.meta.configuration + ("delta.enableDeletionVectors" -> "true")))
    val removes = merged.map { case (p, _, _) =>
      removeAction(p, st.dvs.get(p), ts)
    }
    val adds = partial.zip(descs).map { case ((p, pv, _), d) =>
      val f = Paths.get(resolve(root, p))
      ListMap[String, Any]("add" -> (ListMap[String, Any](
        "path" -> p,
        "partitionValues" -> ListMap(pv.toSeq.sortBy(_._1): _*),
        "size" -> Files.size(f),
        "modificationTime" -> Files.getLastModifiedTime(f).toMillis,
        "dataChange" -> true,
        "deletionVector" -> dvAction(d)) ++
        st.stats.get(p).map(s => ListMap("stats" -> nonTightStats(s)))
          .getOrElse(ListMap.empty)))
    }
    // CDF: the newly hidden rows are exactly the predicate's visible
    // matches under the PRE-commit vectors — written as authoritative
    // change files (a remove(f,old)+add(f,new) pair is not derivable
    // by file-level CDF readers)
    val cdcs =
      if (!cdfEnabled(st.meta)) Vector.empty[Map[String, Any]]
      else {
        val deleted = DeltaRead.plan(spark, root, st.meta,
          merged.map { case (p, pv, _) => (p, pv) }, st.dvs)
          .where(matchTrue)
          .select(st.meta.schema.fieldNames.map(col).toIndexedSeq :+
            org.apache.spark.sql.functions.lit("delete")
              .as("_change_type"): _*)
        stageChangeData(spark, deleted, root, st.meta)
      }
    val actions = (commitInfo("DELETE") +: upgrade) ++ removes ++ adds ++ cdcs
    commit(root, st.version + 1, actions) match {
      case Some(v) => v
      case None =>
        descs.headOption.foreach(d =>
          Files.deleteIfExists(DeltaDv.dvPath(root, d)))
        cleanup(root, cdcs.toVector)
        throw new ConcurrentWriteException(
          s"version ${st.version + 1} of $root was committed concurrently " +
            "during deleteWithDv — re-read and retry")
    }
  }

  /** Maintenance twin of [[deleteWithDv]] — the OPTIMIZE-style purge
    * every DV table eventually needs: rewrite files whose vector
    * deletes at least `minDeletedFraction` of their physical rows back
    * to clean parquet (the visible rows), dropping their vectors. The
    * table's LOGICAL content is unchanged, so every action carries
    * `dataChange=false` — streaming readers of the log know to skip
    * the commit, and `delta.appendOnly` does not block it.
    * Work ∝ the rewritten files' visible bytes; untouched files are
    * carried by reference. Returns the committed version (unchanged
    * when no vector clears the threshold). */
  def purgeVectors(spark: SparkSession, root: String,
                   minDeletedFraction: Double = 0.0): Long = {
    val st = writableState(spark, root)
    val targets = st.live.filter { case (p, _) =>
      st.dvs.get(p).exists(_.cardinality.toDouble >=
        minDeletedFraction * physicalRows(Paths.get(resolve(root, p))))
    }
    if (targets.isEmpty) return st.version
    val visible = DeltaRead.plan(spark, root, st.meta, targets, st.dvs)
    val adds = stage(spark, visible, root, st.meta.partitionCols,
      dataChange = false, mapping = mappingOf(st.meta))
    val ts = System.currentTimeMillis()
    val removes = targets.map { case (p, _) =>
      removeAction(p, st.dvs.get(p), ts, dataChange = false)
    }
    val actions = (commitInfo("OPTIMIZE", "purgeVectors") +: removes) ++ adds
    commit(root, st.version + 1, actions) match {
      case Some(v) => v
      case None =>
        cleanup(root, adds)
        throw new ConcurrentWriteException(
          s"version ${st.version + 1} of $root was committed concurrently " +
            "during purgeVectors — re-read and retry")
    }
  }

  /** Result of a [[vacuum]]: files actually (or, dry-run, would-be)
    * deleted, their bytes, and empty directories removed. */
  case class VacuumStats(filesDeleted: Long, bytesDeleted: Long,
                        dirsDeleted: Long, retentionMs: Long,
                        dryRun: Boolean)

  /** Default deleted-file retention — the protocol ecosystem's 7 days
    * (`delta.deletedFileRetentionDuration` overrides per table). */
  val DefaultRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  /** VACUUM: physically reclaim every file under the table root that
    * the CURRENT version no longer references and that has aged past
    * the retention window — the GC half of copy-on-write (VERDICT r14
    * gap 5: "a long-lived written table grows forever", ironically
    * the reference's own known defect, README.md:79). What survives:
    *
    *   - the current version's live data files and their deletion-
    *     vector files ([[DeltaDv.dvPath]] — u- and p-flavor; inline
    *     vectors own no file);
    *   - files named by a RETAINED TOMBSTONE: any `remove` action on
    *     the log (JSON tail AND checkpoint/sidecar parquet — foreign
    *     checkpoints retain tombstones even though ours drop them)
    *     whose `deletionTimestamp` is inside the window still shields
    *     its path and its vector, so a concurrent reader of a recent
    *     version never loses bytes mid-query;
    *   - anything YOUNGER than the window by mtime — an in-flight
    *     writer's staged files carry no log record yet;
    *   - the `_delta_log` directory (log truncation is [[cleanLog]]'s
    *     job, with its own retention).
    *
    * Change-data files (`_change_data/`) are data for this purpose:
    * past retention they are reclaimed and [[DeltaRead.readChanges]]
    * refuses the affected range by name. Time travel to a version
    * whose files were reclaimed refuses by name too (the read side
    * probes historical manifests).
    *
    * The deletion-marker protocol brackets the physical deletes with
    * two commitInfo-only commits — `VACUUM START` (operationParameters
    * retentionCheckEnabled / specified / default retention, metrics
    * numFilesToDelete + sizeOfDataToDelete) and `VACUUM END` (status
    * COMPLETED, metrics numDeletedFiles + numVacuumedDirectories) —
    * so foreign auditors see when and what a vacuum reclaimed; both
    * carry no file actions and change no rows. A dry run commits
    * nothing and deletes nothing.
    *
    * Refusals: a horizon shorter than the table's configured (or the
    * 7-day default) retention refuses unless `retentionCheck=false`
    * (the ecosystem's `retentionDurationCheck.enabled` escape hatch —
    * sub-retention vacuums break concurrent readers and in-flight
    * commits); unknown writer features refuse via the usual gate
    * (the `vacuumProtocolCheck` table feature's whole contract —
    * a vacuuming client must pass the protocol check first).
    *
    * 100 TB shape: one recursive listing of the table root + one
    * manifest-scale log fold; the protected set is manifest-sized
    * (live paths + retained tombstones), never data-sized. */
  def vacuum(spark: SparkSession, root: String,
             retentionMs: Long = DefaultRetentionMs,
             dryRun: Boolean = false,
             retentionCheck: Boolean = true): VacuumStats = {
    val st = writableState(spark, root)
    val configured = st.meta.configuration
      .get("delta.deletedFileRetentionDuration").map(parseIntervalMs)
    val minRetention = configured.getOrElse(DefaultRetentionMs)
    if (retentionCheck)
      require(retentionMs >= minRetention,
        s"vacuum horizon ${retentionMs}ms is shorter than the table's " +
          s"retention ${minRetention}ms at $root — concurrent readers and " +
          "in-flight commits inside the window would lose files; pass " +
          "retentionCheck=false only on a quiesced table")
    val now = System.currentTimeMillis()
    val horizon = now - retentionMs

    // protected: live data files + their vectors, by canonical path
    def canon(p: String): String =
      Paths.get(p).toAbsolutePath.normalize.toString
    val protect = scala.collection.mutable.HashSet.empty[String]
    st.live.foreach { case (p, _) => protect += canon(resolve(root, p)) }
    st.dvs.values.foreach { d =>
      if (d.storageType == "u" || d.storageType == "p")
        protect += canon(DeltaDv.dvPath(root, d).toString)
    }
    // + retained tombstones: remove actions inside the window, from
    // the JSON log and any checkpoint parquet (incl. v2 sidecars)
    retainedTombstones(spark, root, horizon).foreach { case (p, dv) =>
      protect += canon(resolve(root, p))
      dv.foreach(d => if (d.storageType == "u" || d.storageType == "p")
        protect += canon(DeltaDv.dvPath(root, d).toString))
    }

    // candidates: every regular file under root outside _delta_log
    // (dot-/underscore-prefixed OTHER dirs skipped like the ecosystem
    // does — except _change_data, which is vacuum-eligible data)
    val rootPath = Paths.get(root).toAbsolutePath.normalize
    // this writer's OWN crashed staging residue (.graft-stage-<uuid>
    // dirs left by a crash between the Spark stage job and publish)
    // IS vacuumable once aged — no log record ever references it, and
    // skipping it forever would re-create the grows-forever defect
    // this feature exists to fix (review r15). Foreign hidden dirs
    // stay untouched.
    def skippedDir(p: Path): Boolean = {
      val n = p.getFileName.toString
      (n.startsWith("_") || n.startsWith(".")) && n != "_change_data" &&
        !n.startsWith(".graft-stage-")
    }
    val candidates = scala.collection.mutable.ArrayBuffer.empty[Path]
    val dirs = scala.collection.mutable.ArrayBuffer.empty[Path]
    def walk(dir: Path): Unit = {
      val ls = Files.list(dir)
      try ls.iterator().asScala.foreach { p =>
        if (Files.isDirectory(p)) {
          if (!skippedDir(p)) { dirs += p; walk(p) }
        } else if (!protect(canon(p.toString)) &&
            (try Files.getLastModifiedTime(p).toMillis < horizon
             catch { case _: java.nio.file.NoSuchFileException => false }))
          candidates += p
      } finally ls.close()
    }
    walk(rootPath)
    val bytes = candidates.iterator.map(p =>
      try Files.size(p) catch {
        case _: java.nio.file.NoSuchFileException => 0L
      }).sum

    if (dryRun)
      return VacuumStats(candidates.size.toLong, bytes, 0L, retentionMs,
        dryRun = true)

    commitVacuumMarker(root, "VACUUM START",
      params = ListMap(
        "retentionCheckEnabled" -> retentionCheck,
        "specifiedRetentionMillis" -> retentionMs,
        "defaultRetentionMillis" -> minRetention),
      metrics = ListMap(
        "numFilesToDelete" -> candidates.size.toLong,
        "sizeOfDataToDelete" -> bytes))
    val deleted = candidates.count(Files.deleteIfExists(_))
    // empty dirs bottom-up (deepest first); root and _delta_log never
    val dirsDeleted = dirs.sortBy(-_.getNameCount).count { d =>
      val ls = Files.list(d)
      val empty = try !ls.iterator().hasNext finally ls.close()
      empty && Files.deleteIfExists(d)
    }
    commitVacuumMarker(root, "VACUUM END",
      params = ListMap("status" -> "COMPLETED"),
      metrics = ListMap(
        "numDeletedFiles" -> deleted.toLong,
        "numVacuumedDirectories" -> dirsDeleted.toLong))
    VacuumStats(deleted.toLong, bytes, dirsDeleted.toLong, retentionMs,
      dryRun = false)
  }

  /** Truncate the log: commit JSONs STRICTLY BELOW the newest usable
    * checkpoint that have aged past `logRetentionMs` (default 30 days;
    * `delta.logRetentionDuration` overrides) are deleted, along with
    * superseded checkpoint files older than the window. The newest
    * checkpoint and the whole tail above it always survive, so every
    * reader still bootstraps; [[DeltaRead.readChanges]] refuses
    * truncated ranges by name (its existing vacuumed-commit probe).
    * Returns the number of log files removed. */
  def cleanLog(spark: SparkSession, root: String,
               logRetentionMs: Long = 30L * 24 * 60 * 60 * 1000): Int = {
    val st = DeltaRead.state(spark, root, Long.MaxValue)
    val retention = st.meta.configuration
      .get("delta.logRetentionDuration").map(parseIntervalMs)
      .getOrElse(logRetentionMs)
    val log = Paths.get(root, "_delta_log")
    val names = {
      val ls = Files.list(log)
      try ls.iterator().asScala.map(_.getFileName.toString).toVector
      finally ls.close()
    }
    // single-part, multi-part (<v>.checkpoint.<i>.<n>.parquet), and
    // v2 (<v>.checkpoint.<uuid>.{parquet,json}) forms all resolve
    def cpVersion(n: String): Option[Long] =
      if (n.matches("\\d{20}\\.checkpoint\\.parquet") ||
          n.matches("\\d{20}\\.checkpoint\\.\\d+\\.\\d+\\.parquet") ||
          n.matches("\\d{20}\\.checkpoint\\.[0-9a-fA-F-]{36}\\.(parquet|json)"))
        Some(n.take(20).toLong)
      else None
    // keepFrom must be a USABLE checkpoint: an incomplete multi-part
    // set must not justify truncating JSONs readers still need
    val singles = names.filter(_.matches("\\d{20}\\.checkpoint\\.parquet"))
      .map(_.take(20).toLong)
    val v2s = names.filter(_.matches(
        "\\d{20}\\.checkpoint\\.[0-9a-fA-F-]{36}\\.(parquet|json)"))
      .map(_.take(20).toLong)
    val MultiRe = """(\d{20})\.checkpoint\.(\d+)\.(\d+)\.parquet""".r
    val completeMultis = names.collect {
        case n @ MultiRe(v, i, total) => (v.toLong, i.toLong, total.toLong)
      }.groupBy(_._1).collect {
        case (v, parts)
            if parts.map(_._3).distinct.size == 1 &&
              parts.map(_._2).toSet == (1L to parts.head._3).toSet => v
      }
    val usable = singles ++ v2s ++ completeMultis
    if (usable.isEmpty) return 0 // nothing to bootstrap from — keep all
    val keepFrom = usable.max
    val horizon = System.currentTimeMillis() - retention
    names.count { n =>
      val victim =
        if (n.matches("\\d{20}\\.json")) n.take(20).toLong < keepFrom
        else cpVersion(n).exists(_ < keepFrom)
      victim && {
        val p = log.resolve(n)
        (try Files.getLastModifiedTime(p).toMillis < horizon
         catch { case _: java.nio.file.NoSuchFileException => false }) &&
          Files.deleteIfExists(p)
      }
    }
  }

  /** `remove` tombstones with deletionTimestamp inside the window:
    * (path, deletionVector) from every surviving commit JSON plus any
    * checkpoint parquet (classic, multi-part, and v2 sidecars — a
    * FOREIGN checkpoint retains unexpired tombstones per spec). */
  private def retainedTombstones(spark: SparkSession, root: String,
                                 horizon: Long)
      : Seq[(String, Option[DeltaDv.DvDescriptor])] = {
    val log = Paths.get(root, "_delta_log")
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Option[DeltaDv.DvDescriptor])]
    val jsons = {
      val ls = Files.list(log)
      try ls.iterator().asScala
        .filter(_.getFileName.toString.matches("\\d{20}\\.json")).toVector
      finally ls.close()
    }
    jsons.foreach { j =>
      Files.readAllLines(j, StandardCharsets.UTF_8).asScala
        .filter(_.trim.nonEmpty).foreach { line =>
          val obj = Json.parse(line)
          Json.get(obj, "remove") match {
            case m: Map[_, _] =>
              val r = m.asInstanceOf[Map[String, Any]]
              if (Json.long(r, "deletionTimestamp").exists(_ >= horizon))
                Json.str(r, "path").foreach(p => out +=
                  ((p, DeltaDv.descriptor(r.get("deletionVector").orNull))))
            case _ => ()
          }
        }
    }
    // checkpoint parquet (any form) + v2 sidecars: remove rows whose
    // deletionTimestamp is inside the window. Read PER FILE — a v2
    // manifest parquet and its sidecars carry different schemas, and
    // one combined scan would bind columns from whichever file Spark
    // samples first, silently missing the other form's tombstones
    def parquetRemoves(files: Seq[String]): Unit = files.foreach { f =>
      val df = spark.read.parquet(f)
      if (df.schema.fieldNames.contains("remove")) {
        val sub = df.schema("remove").dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        if (sub.fieldNames.contains("deletionTimestamp")) {
          import org.apache.spark.sql.functions.col
          val hasDv = sub.fieldNames.contains("deletionVector")
          val cols = Seq(col("remove.path"), col("remove.deletionTimestamp")) ++
            (if (hasDv) Seq(org.apache.spark.sql.functions
              .to_json(col("remove.deletionVector"))) else Seq())
          df.where(col("remove.path").isNotNull &&
              col("remove.deletionTimestamp") >= horizon)
            .select(cols: _*).collect().foreach { row =>
              val dv =
                if (hasDv && !row.isNullAt(2))
                  DeltaDv.descriptor(Json.parse(row.getString(2)))
                else None
              out += ((row.getString(0), dv))
            }
        }
      }
    }
    val cpParquet = {
      val ls = Files.list(log)
      try ls.iterator().asScala.map(_.toString)
        .filter(p => p.endsWith(".parquet") && p.contains(".checkpoint"))
        .toVector
      finally ls.close()
    }
    val sidecarDir = log.resolve("_sidecars")
    val sidecars =
      if (!Files.isDirectory(sidecarDir)) Vector.empty[String]
      else {
        val ls = Files.list(sidecarDir)
        try ls.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toVector
        finally ls.close()
      }
    parquetRemoves(cpParquet ++ sidecars)
    out.toSeq
  }

  /** One commitInfo-only marker commit (no file actions, no data
    * change) through the optimistic protocol; conflicts re-probe the
    * next slot — a marker has no read-set to invalidate. */
  private def commitVacuumMarker(root: String, operation: String,
                                 params: ListMap[String, Any],
                                 metrics: ListMap[String, Any]): Long = {
    val action = ListMap("commitInfo" -> ListMap(
      "timestamp" -> System.currentTimeMillis(),
      "operation" -> operation,
      "operationParameters" -> params,
      "operationMetrics" -> metrics,
      "engineInfo" -> "graft"))
    var v = DeltaRead.latestVersion(root) + 1
    var attempts = 0
    while (commit(root, v, Seq(action)).isEmpty) {
      attempts += 1
      require(attempts < 1024,
        s"$operation marker at $root lost $attempts commit races — giving up")
      v = math.max(v + 1, DeltaRead.latestVersion(root) + 1)
    }
    v
  }

  /** `"interval N unit"` (the protocol's duration-config form) → ms.
    * Weeks through milliseconds; anything else refuses by name. */
  private[graft] def parseIntervalMs(s: String): Long = {
    val Re = """(?i)\s*interval\s+(\d+)\s+(\w+)\s*""".r
    s match {
      case Re(n, unit) =>
        val mult = unit.toLowerCase match {
          case "week" | "weeks" => 7L * 24 * 3600 * 1000
          case "day" | "days" => 24L * 3600 * 1000
          case "hour" | "hours" => 3600L * 1000
          case "minute" | "minutes" => 60L * 1000
          case "second" | "seconds" => 1000L
          case "millisecond" | "milliseconds" => 1L
          case other => sys.error(
            s"unsupported interval unit '$other' in '$s'")
        }
        n.toLong * mult
      case _ => sys.error(s"unparseable interval '$s' — want 'interval N unit'")
    }
  }

  /** Hadoop configuration for the driver-side footer reads. Built once:
    * each `new Configuration()` re-parses Hadoop's XML defaults. */
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  /** Physical row count from one parquet footer (metadata-only). */
  private def physicalRows(p: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toString), footerConf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Stats for a DV-carrying add: the protocol's deletion-vector
    * writer requirements mandate `tightBounds:false` on any add whose
    * rows are partially hidden — absent, it defaults TRUE and an
    * external reader may answer MIN/MAX from bounds that still
    * include deleted rows (ADVICE r14). numRecords stays PHYSICAL
    * (the spec's definition); min/max/nullCount remain valid as
    * non-tight bounds. */
  private def nonTightStats(statsJson: String): String = {
    val obj = Json.parse(statsJson) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case other => sys.error(s"unparseable stats JSON: $other")
    }
    Json.render(ListMap(
      ((obj - "tightBounds").toSeq.sortBy(_._1) :+
        ("tightBounds" -> false)): _*))
  }

  /** The deletionVector descriptor object for a file action. */
  private def dvAction(d: DeltaDv.DvDescriptor): ListMap[String, Any] =
    ListMap[String, Any]("storageType" -> d.storageType,
      "pathOrInlineDv" -> d.pathOrInlineDv) ++
      d.offset.map(o => ListMap[String, Any]("offset" -> o))
        .getOrElse(ListMap.empty[String, Any]) ++
      ListMap[String, Any]("sizeInBytes" -> d.sizeInBytes.toLong,
        "cardinality" -> d.cardinality)

  /** A remove action carrying the removed logical file's deletion
    * vector (the (path, dv) identity reconciliation keys on). */
  private def removeAction(p: String, dv: Option[DeltaDv.DvDescriptor],
                           ts: Long, dataChange: Boolean = true): Map[String, Any] =
    ListMap("remove" -> (ListMap[String, Any](
      "path" -> p, "deletionTimestamp" -> ts, "dataChange" -> dataChange) ++
      dv.map(d => ListMap[String, Any]("deletionVector" -> dvAction(d)))
        .getOrElse(ListMap.empty[String, Any])))

  /** A metaData action that PRESERVES the table's id/createdTime and
    * schema, with `conf` as the (possibly updated) configuration. */
  private def metaDataFrom(meta: DeltaRead.Meta,
                           conf: Map[String, String]): Map[String, Any] =
    ListMap("metaData" -> ListMap(
      "id" -> (if (meta.id.nonEmpty) meta.id else UUID.randomUUID().toString),
      "format" -> ListMap("provider" -> "parquet", "options" -> ListMap.empty),
      "schemaString" -> meta.schema.json,
      "partitionColumns" -> meta.partitionCols,
      "configuration" -> ListMap(conf.toSeq.sortBy(_._1): _*),
      "createdTime" -> meta.createdTime.getOrElse(System.currentTimeMillis())))

  /** Write a single-part checkpoint of the CURRENT version and point
    * `_last_checkpoint` at it, so readers bootstrap without replaying
    * the JSON tail and old commits become vacuumable. The checkpoint
    * carries the folded state — the table's OWN protocol and metaData
    * (id/createdTime preserved verbatim: the spec makes metaData.id
    * immutable for the table's lifetime, and foreign streaming readers
    * use it to detect table replacement — ADVICE r13), live adds with
    * their stats, and the folded SetTransaction ledger (dropping txn
    * rows would break every idempotent streaming writer's replay
    * detection after the next log clean). Expired remove tombstones
    * are not retained (this writer's tables carry no vacuum
    * bookkeeping). Live deletion vectors and the protocol's
    * reader/writer feature lists are carried in full (r14 — dropping
    * either would resurrect deleted rows / downgrade the protocol for
    * bootstrapped readers); legacy-versioned tables (minWriter 3–6)
    * and unknown version-7 features are refused: their feature
    * actions (e.g. domainMetadata) are not folded here, so
    * checkpointing would silently discard them. Returns the
    * checkpointed version. */
  def checkpoint(spark: SparkSession, root: String): Long = {
    import org.apache.spark.sql.Row
    val st = DeltaRead.state(spark, root, Long.MaxValue)
    // (1,2) and table-features protocols whose every feature is
    // implemented here checkpoint fine — their whole state IS what
    // this fold reconstructs (protocol incl. feature lists, metaData,
    // adds incl. deletion vectors, txn ledger). Versions 3–6 bundle
    // legacy feature actions this fold does not carry — refuse.
    require(st.minWriter <= 2 ||
        (st.minWriter == 7 &&
          (st.writerFeatures -- SupportedWriterFeatures).isEmpty) ||
        (st.minWriter <= 6 && {
          // legacy 3–6 state lives entirely in configuration / schema
          // metadata (carried verbatim); checkpointable whenever the
          // table is writable under the same gates
          checkLegacyUnused(st, root); true
        }),
      s"Delta table at $root needs minWriterVersion=${st.minWriter} " +
        s"(writerFeatures=${st.writerFeatures.toSeq.sorted.mkString(",")}); " +
        "feature actions beyond this fold's reconstruction would be " +
        "silently discarded by a checkpoint — refusing")
    val protoT = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))
    val metaT = StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))
    val addT = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType,
        valueContainsNull = true)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("deletionVector", StructType(Seq(
        StructField("storageType", StringType),
        StructField("pathOrInlineDv", StringType),
        StructField("offset", LongType),
        StructField("sizeInBytes", LongType),
        StructField("cardinality", LongType))))))
    val txnT = StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType)))
    val cpT = StructType(Seq(
      StructField("protocol", protoT), StructField("metaData", metaT),
      StructField("add", addT), StructField("txn", txnT)))
    val rows =
      Row(Row(st.minReader.toInt, st.minWriter.toInt,
        if (st.readerFeatures.isEmpty) null else st.readerFeatures.toSeq.sorted,
        if (st.writerFeatures.isEmpty) null else st.writerFeatures.toSeq.sorted),
        null, null, null) +:
      Row(null, Row(
        if (st.meta.id.nonEmpty) st.meta.id else s"graft-${UUID.randomUUID()}",
        Row("parquet", Map.empty[String, String]), st.meta.schema.json,
        st.meta.partitionCols, st.meta.configuration,
        st.meta.createdTime.map(Long.box).orNull), null, null) +:
      (st.txns.toSeq.sortBy(_._1).map { case (app, v) =>
        Row(null, null, null, Row(app, v))
      } ++
      st.live.map { case (p, pv) =>
        val f = Paths.get(resolve(root, p))
        Row(null, null, Row(p, pv, Files.size(f),
          Files.getLastModifiedTime(f).toMillis, true,
          st.stats.get(p).orNull,
          st.dvs.get(p).map(d => Row(d.storageType, d.pathOrInlineDv,
            d.offset.map(Long.box).orNull, d.sizeInBytes.toLong,
            d.cardinality)).orNull), null)
      })
    val log = Paths.get(root, "_delta_log")
    val target = log.resolve(f"${st.version}%020d.checkpoint.parquet")
    // external readers find the newest checkpoint through this hint —
    // (re)written on EVERY exit path that leaves a checkpoint at this
    // version (ADVICE r14: a crash after the parquet move but before
    // the hint write would otherwise leave _last_checkpoint
    // permanently stale, since reruns no-op on the existing file)
    def writeHint(): Long = {
      Files.write(log.resolve("_last_checkpoint"),
        Json.render(ListMap("version" -> st.version, "size" -> rows.size.toLong))
          .getBytes(StandardCharsets.UTF_8))
      st.version
    }
    // idempotent: a checkpoint already at this version IS the folded
    // state (checkpointing is deterministic per version) — re-running
    // without an intervening commit, or losing a race to a concurrent
    // checkpointer, must be a no-op, not an FS crash
    if (Files.exists(target)) return writeHint()
    val cp = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), cpT)
    val tmp = log.resolve(s".cp_${UUID.randomUUID()}")
    cp.coalesce(1).write.options(LocalFs.WriterOptions).mode("overwrite")
      .parquet(tmp.toString)
    val part = {
      val ls = Files.list(tmp)
      try ls.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally ls.close()
    }
    try Files.move(part, target)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        deleteTree(tmp) // a concurrent checkpointer won the same version
        return writeHint()
    }
    deleteTree(tmp)
    writeHint()
  }

  // ---------------------------------------------------------------- internals

  /** Writer features (protocol version 7) this implementation honors:
    * appendOnly (enforced — overwrite/delete refuse on
    * `delta.appendOnly`), invariants (honored by REFUSAL — schemas
    * declaring `delta.invariants` are never written, the safe
    * direction for a writer that does not evaluate them), and
    * deletionVectors (file actions emitted with (path, dv) identity,
    * vectors written by [[deleteWithDv]]). These are exactly the
    * features an upgrade-to-7 lists: the two legacy features
    * minWriterVersion=2 implied, plus DVs. */
  private val SupportedWriterFeatures: Set[String] =
    Set("appendOnly", "invariants", "deletionVectors", "columnMapping",
      "changeDataFeed", "vacuumProtocolCheck")

  /** The features a (1,2)→(3,7) upgrade lists: the two legacy features
    * version 2 implied plus the one being enabled — NOT the full
    * supported set (stamping e.g. columnMapping onto an unmapped table
    * would demand the feature of every future writer for nothing). */
  private val LegacyV2Features: Set[String] = Set("appendOnly", "invariants")

  /** Fold the current state and refuse everything this writer cannot
    * honor (PROTOCOL.md: "a writer must refuse to write to a table
    * whose protocol it does not fully implement"). Versions 3–6 are
    * LEGACY feature bundles (constraints, CDF, generated columns, …)
    * this writer does not implement; version 7 is table features and
    * writes proceed iff every listed writerFeature is in
    * [[SupportedWriterFeatures]]. */
  private def writableState(spark: SparkSession, root: String)
      : DeltaRead.TableState =
    checkWritable(DeltaRead.state(spark, root, Long.MaxValue), root)

  private def checkWritable(st: DeltaRead.TableState, root: String)
      : DeltaRead.TableState = {
    require(st.minWriter <= 7,
      s"Delta table at $root needs minWriterVersion=${st.minWriter}; the " +
        "protocol defines writer versions up to 7 — refusing an unknown one")
    if (st.minWriter >= 3 && st.minWriter <= 6)
      // LEGACY feature bundles: each implied feature must be
      // implemented here (columnMapping is, r15) or provably UNUSED by
      // this table — a real user's mapped table usually arrives as
      // (2,5), and refusing it wholesale when none of the other
      // bundled features has anything to enforce serves nobody
      checkLegacyUnused(st, root)
    if (st.minWriter == 7) {
      require(st.writerFeatures.nonEmpty,
        s"Delta table at $root declares minWriterVersion=7 but lists no " +
          "writerFeatures — non-conformant protocol action; refusing")
      val unsupported = st.writerFeatures -- SupportedWriterFeatures
      require(unsupported.isEmpty,
        s"Delta table at $root requires writer feature(s) " +
          s"${unsupported.toSeq.sorted.mkString(", ")} this writer does not " +
          s"implement (supported: ${SupportedWriterFeatures.toSeq.sorted.mkString(", ")}) " +
          "— refusing rather than breaking their contracts")
    }
    // column-mapped tables (name AND id modes — r15) WRITE through
    // the physical-name machinery in [[stage]]; the reader's fold has
    // already validated the mode and the per-field physicalName/id
    // metadata, so nothing to refuse here
    refuseInvariants(st.meta.schema, root)
    // an EXTERNAL table may be partitioned by a type whose spec
    // serialization diverges from the hive dir form stage() emits —
    // the same refusal as at create-time applies to every write
    checkPartitionable(st.meta.schema, st.meta.partitionCols)
    st
  }

  /** Legacy writer versions 3–6 bundle features this writer does not
    * evaluate. Each is refused ONLY when the table actually uses it —
    * the feature contracts are all of the form "when X is declared,
    * enforce X", so a table declaring none of them is safe to write:
    *   3: CHECK constraints (`delta.constraints.*` configuration keys)
    *   4: change data feed — IMPLEMENTED (cdc actions + `_change_data`
    *      files from the row-subset ops, r15) — and generated columns
    *      (`delta.generationExpression` field metadata)
    *   5: column mapping — IMPLEMENTED (name + id modes)
    *   6: identity columns (`delta.identity.*` field metadata). */
  private def checkLegacyUnused(st: DeltaRead.TableState, root: String): Unit = {
    val v = st.minWriter
    if (v >= 3)
      require(!st.meta.configuration.keys.exists(_.startsWith("delta.constraints.")),
        s"Delta table at $root (minWriterVersion=$v) declares CHECK " +
          "constraints this writer does not evaluate — refusing rather " +
          "than committing rows it cannot validate")
    if (v >= 4)
      require(!fieldMetaHas(st.meta.schema, Set("delta.generationExpression")),
        s"Delta table at $root (minWriterVersion=$v) declares generated " +
          "columns this writer does not compute — refusing")
    if (v >= 6)
      require(!fieldMetaHas(st.meta.schema, Set("delta.identity.start",
          "delta.identity.step", "delta.identity.allowExplicitInsert")),
        s"Delta table at $root (minWriterVersion=$v) declares identity " +
          "columns this writer does not generate — refusing")
  }

  private def fieldMetaHas(schema: StructType, keys: Set[String]): Boolean = {
    def walk(t: DataType): Boolean = t match {
      case s: StructType => s.fields.exists(f =>
        keys.exists(f.metadata.contains) || walk(f.dataType))
      case a: ArrayType => walk(a.elementType)
      case m: MapType => walk(m.keyType) || walk(m.valueType)
      case _ => false
    }
    walk(schema)
  }

  /** minWriterVersion=2's one feature is column invariants: a writer
    * that does not EVALUATE them must not write. */
  private def refuseInvariants(schema: StructType, root: String): Unit = {
    def walk(t: DataType): Boolean = t match {
      case s: StructType => s.fields.exists(f =>
        f.metadata.contains("delta.invariants") || walk(f.dataType))
      case a: ArrayType => walk(a.elementType)
      case m: MapType => walk(m.keyType) || walk(m.valueType)
      case _ => false
    }
    require(!walk(schema),
      s"Delta table at $root declares delta.invariants; this writer does " +
        "not evaluate invariant expressions and refuses rather than " +
        "committing rows it cannot validate")
  }

  /** Partition column types whose spec serialization is byte-identical
    * to the hive directory name Spark's writer emits — the only ones
    * this writer accepts (PROTOCOL.md "Partition Value Serialization";
    * timestamps/decimals/binary serialize differently from their hive
    * path form and are refused rather than written divergent). */
  private def checkPartitionable(schema: StructType, partitionBy: Seq[String]): Unit =
    partitionBy.foreach { c =>
      val f = schema.fields.find(_.name == c)
        .getOrElse(sys.error(s"partition column $c not in schema"))
      require(Seq(StringType, ByteType, ShortType, IntegerType, LongType,
        DateType, BooleanType).contains(f.dataType),
        s"partition column $c: ${f.dataType.simpleString} serialization " +
          "differs between the Delta spec and hive directory layout — " +
          "refusing (supported: string, byte, short, int, long, date, boolean)")
    }

  /** Project `df` into the table's schema by NAME: every table column
    * present exactly once, no extras, types equal up to nullability —
    * with nullable-into-required refused (this writer will not be the
    * reason a required column holds null). */
  private def align(df: DataFrame, meta: DeltaRead.Meta): DataFrame = {
    val have = df.schema.fields.map(f => f.name -> f).toMap
    require(df.schema.fields.length == meta.schema.fields.length &&
        meta.schema.fields.forall(f => have.contains(f.name)),
      s"schema mismatch: table has ${meta.schema.fieldNames.mkString(",")}, " +
        s"data has ${df.schema.fieldNames.mkString(",")}")
    meta.schema.fields.foreach { tf =>
      val dfF = have(tf.name)
      // types compare METADATA-STRIPPED: a mapped table's nested
      // fields carry columnMapping metadata the user's frame never has
      require(stripMeta(dfF.dataType) == stripMeta(tf.dataType),
        s"column ${tf.name}: table type ${tf.dataType.simpleString} != " +
          s"data type ${dfF.dataType.simpleString}")
      require(tf.nullable || !dfF.nullable,
        s"column ${tf.name} is required in the table but nullable in the data")
    }
    df.select(meta.schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  private def stripMeta(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, stripMeta(f.dataType), f.nullable)))
    case a: ArrayType => a.copy(elementType = stripMeta(a.elementType))
    case m: MapType =>
      m.copy(keyType = stripMeta(m.keyType), valueType = stripMeta(m.valueType))
    case other => other
  }

  /** `(mode, decorated logical schema)` when `meta` declares column
    * mapping — what [[stage]] needs to write physically. */
  private def mappingOf(meta: DeltaRead.Meta): Option[(String, StructType)] =
    meta.configuration.get("delta.columnMapping.mode")
      .filter(m => m == "name" || m == "id").map(m => (m, meta.schema))

  private def physByLogical(schema: StructType): Map[String, String] =
    schema.fields.map(f => f.name -> DeltaRead.physicalName(f)).toMap

  /** Assign fresh column-mapping identities to every field of a new
    * table's schema, nested fields included (the spec gives each
    * field a unique id and an immutable `col-<uuid>` physical name;
    * the returned high-water mark becomes
    * `delta.columnMapping.maxColumnId`). */
  private def decorateMapping(schema: StructType): (StructType, Long) = {
    var next = 0L
    def walk(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map { f =>
        next += 1
        val md = new MetadataBuilder().withMetadata(f.metadata)
          .putString(DeltaRead.PhysicalNameKey, s"col-${UUID.randomUUID()}")
          .putLong(DeltaRead.FieldIdKey, next).build()
        StructField(f.name, walk(f.dataType), f.nullable, md)
      })
      case a: ArrayType => a.copy(elementType = walk(a.elementType))
      case m: MapType =>
        m.copy(keyType = walk(m.keyType), valueType = walk(m.valueType))
      case other => other
    }
    (walk(schema).asInstanceOf[StructType], next)
  }

  /** Distributed write of `df` under `root` in hive layout, returning
    * the `add` actions. One `partitionBy` parquet job stages into a
    * hidden dir inside the root (same filesystem ⇒ publishing each
    * file is a rename); the driver then recovers each file's partition
    * values from its directory path (unescaping hive's %xx form) and
    * reads `numRecords` from its parquet footer for `stats`.
    *
    * Under column mapping (`mapping` = mode + decorated logical
    * schema) the frame is projected to PHYSICAL shape first: every
    * column renamed to its `physicalName` (nested renames ride a cast
    * to the physical struct type), field ids attached as
    * `parquet.field.id` under `id` mode (Spark's parquet writer stamps
    * them into the footers — `spark.sql.parquet.fieldId.write.enabled`
    * defaults on), partition directories and `partitionValues` keys
    * physical, and `stats` keyed by physical names — exactly the
    * spec's "track partition values and column level statistics with
    * the physical name of the column in the transaction log". */
  /** Stage `rows` (table columns + `_change_type`) as CHANGE DATA
    * FILES under `<root>/_change_data/` and return their `cdc` actions
    * — the protocol's authoritative change representation
    * (PROTOCOL.md "Change Data Files"): same hive layout and physical-
    * name rules as data files, `_change_type` carried as an ordinary
    * column (never mapped), `dataChange=false` on every cdc action as
    * the spec mandates. */
  private def stageChangeData(spark: SparkSession, rows: DataFrame,
                              root: String, meta: DeltaRead.Meta)
      : Vector[Map[String, Any]] = {
    val withCt = StructType(meta.schema.fields :+
      StructField("_change_type", StringType))
    stage(spark, rows, root, meta.partitionCols,
      mapping = mappingOf(meta).map { case (mode, _) => (mode, withCt) },
      changeData = true)
  }

  /** True when every row-subset commit must carry change data files. */
  private def cdfEnabled(meta: DeltaRead.Meta): Boolean =
    meta.configuration.getOrElse("delta.enableChangeDataFeed", "false") == "true"

  private def stage(spark: SparkSession, df: DataFrame, root: String,
                    partitionBy: Seq[String],
                    dataChange: Boolean = true,
                    mapping: Option[(String, StructType)] = None,
                    changeData: Boolean = false)
      : Vector[Map[String, Any]] = {
    val (physDf, physPartitionBy) = mapping match {
      case None => (df, partitionBy)
      case Some((mode, schema)) =>
        val byId = mode == "id"
        val phys = physByLogical(schema)
        val cols = schema.fields.map { f =>
          val c = col(s"`${f.name}`")
            .cast(DeltaRead.toPhysical(f.dataType, byId))
          if (byId && f.metadata.contains(DeltaRead.FieldIdKey))
            c.as(phys(f.name), new MetadataBuilder()
              .putLong("parquet.field.id",
                f.metadata.getLong(DeltaRead.FieldIdKey)).build())
          else c.as(phys(f.name))
        }
        (df.select(cols.toIndexedSeq: _*), partitionBy.map(phys))
    }
    Files.createDirectories(Paths.get(root))
    val stg = Paths.get(root, s".graft-stage-${UUID.randomUUID()}")
    val writer = physDf.write.options(LocalFs.WriterOptions)
      .mode("errorifexists")
    (if (physPartitionBy.nonEmpty) writer.partitionBy(physPartitionBy: _*)
     else writer).parquet(stg.toString)

    val staged = {
      val walk = Files.walk(stg)
      try walk.iterator().asScala.filter(p =>
        p.getFileName.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .toVector
      finally walk.close()
    }
    // hive dirs cannot tell null / "" / the literal default-partition
    // marker apart — detect the two forgeable sources and refuse
    if (partitionBy.nonEmpty &&
        staged.exists(p => stg.relativize(p).toString
          .contains("__HIVE_DEFAULT_PARTITION__"))) {
      val forged = df
        .where(partitionBy.map(c => col(c) === "__HIVE_DEFAULT_PARTITION__" ||
          col(c) === "").reduce(_ || _))
      if (!forged.isEmpty) {
        deleteTree(stg)
        sys.error("partition values \"\" or the literal " +
          "\"__HIVE_DEFAULT_PARTITION__\" are not representable in hive " +
          "layout (both collapse into the null marker) — refusing")
      }
    }

    val adds = staged.map { p =>
      val rel = stg.relativize(p)
      val segs = rel.asScala.map(_.toString).toVector
      val pv: ListMap[String, Any] = ListMap(segs.dropRight(1).map { seg =>
        val eq = seg.indexOf('=')
        require(eq > 0, s"staged path segment without col=value shape: $seg")
        val raw = unescapeHive(seg.substring(eq + 1))
        seg.substring(0, eq) ->
          (if (raw == "__HIVE_DEFAULT_PARTITION__") null else raw)
      }: _*)
      val base =
        if (changeData) Paths.get(root).resolve("_change_data")
        else Paths.get(root)
      val dest = base.resolve(rel)
      Files.createDirectories(dest.getParent)
      Files.move(p, dest) // unique part-<uuid> names: collision = bug
      if (changeData)
        ListMap[String, Any]("cdc" -> ListMap(
          "path" -> encodePath(("_change_data" +: segs).mkString("/")),
          "partitionValues" -> pv,
          "size" -> Files.size(dest),
          "dataChange" -> false))
      else
        ListMap[String, Any]("add" -> ListMap(
          "path" -> encodePath(segs.mkString("/")),
          "partitionValues" -> pv,
          "size" -> Files.size(dest),
          "modificationTime" -> Files.getLastModifiedTime(dest).toMillis,
          "dataChange" -> dataChange,
          "stats" -> Json.render(fileStats(dest,
            StructType(physDf.schema.fields.filterNot(f =>
              physPartitionBy.contains(f.name)))))))
    }
    deleteTree(stg)
    adds
  }

  /** File-skipping stats from one parquet footer — driver-side,
    * metadata-only (no row group bytes touched): `numRecords` always;
    * `minValues`/`maxValues`/`nullCount` for every top-level data
    * column whose chunk statistics are complete and whose Delta JSON
    * form is unambiguous (integers, doubles, strings, booleans,
    * dates). A column with any stats-less or NaN chunk is OMITTED —
    * partial stats are legal under the protocol, wrong ones break
    * every skipping reader. String order follows parquet's unsigned
    * UTF-8 byte comparison, the order the stats were written under. */
  private def fileStats(p: Path, dataSchema: StructType): Map[String, Any] = {
    import org.apache.parquet.column.statistics._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toString), footerConf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val rows = r.getRecordCount
      val chunksByCol = blocks.flatMap(_.getColumns.asScala)
        .filter(_.getPath.size == 1) // top-level primitives only
        .groupBy(_.getPath.toDotString)
      val mins = ListMap.newBuilder[String, Any]
      val maxs = ListMap.newBuilder[String, Any]
      val nulls = ListMap.newBuilder[String, Any]
      dataSchema.fields.foreach { f =>
        val chunks = chunksByCol.getOrElse(f.name, Nil)
        val stats = chunks.map(_.getStatistics)
        if (stats.nonEmpty && stats.forall(s => s != null && !s.isEmpty)) {
          if (stats.forall(_.getNumNulls >= 0))
            nulls += f.name -> stats.map(_.getNumNulls).sum
          // all-null chunks contribute no values; min/max over the
          // chunks that have them is still exact
          val withVals = stats.filter(_.hasNonNullValue)
          val mm: Option[(Any, Any)] = f.dataType match {
            case LongType if withVals.forall(_.isInstanceOf[LongStatistics]) =>
              val ss = withVals.map(_.asInstanceOf[LongStatistics])
              if (ss.isEmpty) None
              else Some((ss.map(_.getMin).min, ss.map(_.getMax).max))
            case IntegerType | ShortType | ByteType
                if withVals.forall(_.isInstanceOf[IntStatistics]) =>
              val ss = withVals.map(_.asInstanceOf[IntStatistics])
              if (ss.isEmpty) None
              else Some((ss.map(_.getMin).min, ss.map(_.getMax).max))
            case DoubleType if withVals.forall(_.isInstanceOf[DoubleStatistics]) =>
              val ss = withVals.map(_.asInstanceOf[DoubleStatistics])
              if (ss.isEmpty || ss.exists(s => s.getMin.isNaN || s.getMax.isNaN))
                None
              else Some((ss.map(_.getMin).min, ss.map(_.getMax).max))
            case BooleanType if withVals.forall(_.isInstanceOf[BooleanStatistics]) =>
              val ss = withVals.map(_.asInstanceOf[BooleanStatistics])
              if (ss.isEmpty) None
              else Some((ss.map(_.getMin).min, ss.map(_.getMax).max))
            case StringType if withVals.forall(_.isInstanceOf[BinaryStatistics]) =>
              val ss = withVals.map(_.asInstanceOf[BinaryStatistics])
              if (ss.isEmpty) None
              else {
                val ord: Ordering[org.apache.parquet.io.api.Binary] =
                  (a, b) => org.apache.parquet.io.api.Binary
                    .lexicographicCompare(a, b)
                Some((ss.map(_.genericGetMin).min(ord).toStringUsingUTF8,
                  ss.map(_.genericGetMax).max(ord).toStringUsingUTF8))
              }
            case DateType if withVals.forall(_.isInstanceOf[IntStatistics]) =>
              val ss = withVals.map(_.asInstanceOf[IntStatistics])
              if (ss.isEmpty) None
              else Some((
                java.time.LocalDate.ofEpochDay(ss.map(_.getMin).min.toLong).toString,
                java.time.LocalDate.ofEpochDay(ss.map(_.getMax).max.toLong).toString))
            case _ => None // timestamps/decimals/binary/nested: omitted
          }
          mm.foreach { case (lo, hi) =>
            mins += f.name -> lo
            maxs += f.name -> hi
          }
        }
      }
      val (mn, mx, nc) = (mins.result(), maxs.result(), nulls.result())
      ListMap[String, Any]("numRecords" -> rows) ++
        (if (mn.nonEmpty) ListMap("minValues" -> mn, "maxValues" -> mx)
        else ListMap.empty) ++
        (if (nc.nonEmpty) ListMap("nullCount" -> nc) else ListMap.empty)
    } finally r.close()
  }

  private[sources] def metaData(schema: StructType, partitionBy: Seq[String],
                                configuration: Map[String, String]): Map[String, Any] =
    ListMap("metaData" -> ListMap(
      "id" -> UUID.randomUUID().toString,
      "format" -> ListMap("provider" -> "parquet", "options" -> ListMap.empty),
      "schemaString" -> schema.json,
      "partitionColumns" -> partitionBy,
      "configuration" -> configuration,
      "createdTime" -> System.currentTimeMillis()))

  private def commitInfo(operation: String, mode: String = ""): Map[String, Any] =
    ListMap("commitInfo" -> (ListMap(
      "timestamp" -> System.currentTimeMillis(),
      "operation" -> operation,
      "engineInfo" -> "graft") ++
      (if (mode.nonEmpty)
        ListMap("operationParameters" -> ListMap("mode" -> mode))
      else ListMap.empty)))

  /** Atomically publish `actions` as `_delta_log/<v>.json`. Some(v) on
    * the win; None when the slot was taken first (optimistic-
    * concurrency loss — callers decide whether a retry is sound). */
  private[sources] def commit(root: String, v: Long,
                              actions: Seq[Map[String, Any]]): Option[Long] = {
    val log = Paths.get(root, "_delta_log")
    Files.createDirectories(log)
    val body = actions.map(Json.render).mkString("", "\n", "\n")
    Option.when(LocalFs.writeOnce(log.resolve(f"$v%020d.json"), body))(v)
  }

  /** A lost commit's staged data files are unreachable (no add action
    * ever published) — delete them rather than leak. */
  private def cleanup(root: String, adds: Seq[Map[String, Any]]): Unit =
    adds.foreach { a =>
      (Json.str(a, "add", "path") orElse Json.str(a, "cdc", "path"))
        .foreach { p =>
          Files.deleteIfExists(Paths.get(resolve(root, p)))
        }
    }

  /** add.path → filesystem path, via the same pure percent-decoder as
    * the reader (NOT URLDecoder's form decoding — ADVICE r13: '+' must
    * stay literal or tables with '+' in a partition value become
    * unreadable). */
  private def resolve(root: String, p: String): String =
    DeltaRead.resolvePath(root, p)

  /** Percent-encode a relative path for `add.path` (RFC 2396). The
    * multi-argument URI constructor quotes exactly the illegal path
    * characters — space, control chars, and crucially '%' itself
    * (present in hive-escaped dir names; under-encoding it would
    * corrupt every reader's decode) — while leaving legal ones like
    * '=' readable, matching what production Delta writers emit. */
  private[sources] def encodePath(rel: String): String =
    new java.net.URI(null, null, rel, null).getRawPath

  /** Inverse of hive's escapePathName: %xx (two hex digits) decodes to
    * the char; hive escapes '%' itself, so the scan is unambiguous. */
  private def unescapeHive(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s(i) == '%' && i + 2 < s.length && isHex(s(i + 1)) && isHex(s(i + 2))) {
        sb += Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar
        i += 3
      } else { sb += s(i); i += 1 }
    }
    sb.result()
  }

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'A' && c <= 'F') || (c >= 'a' && c <= 'f')

  private def deleteTree(p: Path): Unit = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }
}
