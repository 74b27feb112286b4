package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.DataFrame

import graft.sources.{GraftTable, IcebergRead, IcebergWrite}
import graft.util.Json

/** IDENTITY-partitioned Iceberg writes (r15): the partition spec in
  * the metadata, per-file partition tuples in the manifests (typed
  * Avro under the spec's field ids), identity source columns kept IN
  * the data files (so any plain reader sees full rows), hive-layout
  * data dirs, hive-escaped value round-trips, and the refusal
  * surface (non-identity foreign specs, null partition values,
  * row-level deletes on partitioned tables, partitioned mirror
  * targets). */
class IcebergPartitionedWriteSpec extends SparkSpec {

  private def fresh(): String =
    Files.createTempDirectory("graft_icep_").toString

  private def metaJson(root: String, v: Int): Any =
    Json.parse(Files.readString(
      Paths.get(root, "metadata", s"v$v.metadata.json")))

  private def avro(path: String): Seq[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](
      new java.io.File(path), new GenericDatumReader[GenericRecord]())
    try r.iterator.asScala.toVector finally r.close()
  }

  private def rows(df: DataFrame): Set[(Long, String, Long)] =
    df.select("id", "p", "n").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("create/append/overwrite a partitioned table: spec golden, " +
      "manifest tuples, full-row files, hive layout") {
    import spark.implicits._
    val root = fresh()
    val df = Seq((1L, "x", 10L), (2L, "y", 20L), (3L, "x", 30L))
      .toDF("id", "p", "n")
    IcebergWrite.create(spark, df, root, partitionBy = Seq("p")) // snap 1

    // metadata golden: identity spec field under id 1000, source-id
    // = the p column's schema id, last-partition-id advanced
    val meta = metaJson(root, 1)
    val spec = Json.list(meta, "partition-specs").head
    val f = Json.list(spec, "fields") match {
      case one :: Nil => one
      case other => fail(s"want one spec field, got $other")
    }
    assert(Json.str(f, "transform").contains("identity"))
    assert(Json.str(f, "name").contains("p"))
    assert(Json.long(f, "source-id").contains(2L))
    assert(Json.long(f, "field-id").contains(1000L))
    assert(Json.long(meta, "last-partition-id").contains(1000L))

    // manifest golden: each entry carries its typed partition tuple,
    // and the manifest's key-value partition-spec names the fields
    val snap = Json.list(meta, "snapshots").head
    val ml = avro(Json.str(snap, "manifest-list").get)
    val mf = ml.head.get("manifest_path").toString
    val reader = new DataFileReader[GenericRecord](
      new java.io.File(mf), new GenericDatumReader[GenericRecord]())
    val specMeta = try reader.getMetaString("partition-spec")
    finally reader.close()
    assert(specMeta.contains("\"identity\"") && specMeta.contains("1000"))
    val tuples = avro(mf).map(_.get("data_file").asInstanceOf[GenericRecord])
      .map(d => (d.get("partition").asInstanceOf[GenericRecord]
        .get("p").toString, d.get("record_count").toString.toLong))
    assert(tuples.map(_._1).toSet === Set("x", "y"))
    assert(tuples.map(_._2).sum === 3L)

    // files live under hive-layout dirs AND keep the partition column
    val xFiles = Files.list(Paths.get(root, "data", "p=x"))
    val one = try xFiles.iterator().asScala
      .find(_.toString.endsWith(".parquet")).get finally xFiles.close()
    assert(spark.read.parquet(one.toString).columns.toSeq ===
      Seq("id", "p", "n"), "identity sources stay in the data files")

    // the field-id-resolving reader returns full rows at every snapshot
    assert(rows(IcebergRead.read(spark, root)) === rows(df))
    IcebergWrite.append(spark,
      Seq((4L, "z", 40L)).toDF("id", "p", "n"), root) // snap 2
    assert(rows(IcebergRead.read(spark, root)) ===
      rows(df) + ((4L, "z", 40L)))
    IcebergWrite.overwrite(spark,
      Seq((9L, "w", 90L)).toDF("id", "p", "n"), root) // snap 3
    assert(rows(IcebergRead.read(spark, root)) === Set((9L, "w", 90L)))
    assert(rows(IcebergRead.read(spark, root, 2L)) ===
      rows(df) + ((4L, "z", 40L))) // time travel intact

    // import applies through the reader
    val gt = fresh() + "/gt"
    GraftTable.importIceberg(spark, root, gt, "id")
    assert(GraftTable.read(spark, gt).count() === 1L)
  }

  test("hive-escaped partition values round-trip; nulls and deletes " +
      "refuse; foreign non-identity specs refuse") {
    import spark.implicits._
    val root = fresh()
    // ':', '%' and '=' are hive-escaped in dir names — the tuple must
    // round-trip
    IcebergWrite.create(spark,
      Seq((1L, "a:b", 1L), (2L, "c d", 2L), (4L, "a%b", 4L), (5L, "k=v", 5L))
        .toDF("id", "p", "n"), root,
      partitionBy = Seq("p"))
    val meta = metaJson(root, 1)
    val mf = avro(Json.str(Json.list(meta, "snapshots").head,
      "manifest-list").get).head.get("manifest_path").toString
    val vals = avro(mf).map(_.get("data_file").asInstanceOf[GenericRecord]
      .get("partition").asInstanceOf[GenericRecord].get("p").toString).toSet
    assert(vals === Set("a:b", "c d", "a%b", "k=v"))
    assert(rows(IcebergRead.read(spark, root)) ===
      Set((1L, "a:b", 1L), (2L, "c d", 2L), (4L, "a%b", 4L), (5L, "k=v", 5L)))

    // a NULL partition value refuses by name
    val e1 = intercept[Exception] {
      IcebergWrite.append(spark,
        Seq((3L, null: String, 3L)).toDF("id", "p", "n"), root)
    }
    assert(e1.getMessage.contains("NULL values"))

    // row-level deletes on a partitioned table refuse by name
    val e2 = intercept[IllegalArgumentException] {
      IcebergWrite.delete(spark, root,
        org.apache.spark.sql.functions.col("id") === 1L)
    }
    assert(e2.getMessage.contains("PARTITIONED"))
    val e3 = intercept[IllegalArgumentException] {
      IcebergWrite.deleteEqual(spark, root, "id", Seq(1L).toDF("id"))
    }
    assert(e3.getMessage.contains("PARTITIONED"))

    // a foreign BUCKET spec still refuses writes by transform name
    val root2 = fresh()
    IcebergWrite.create(spark, Seq((1L, "a")).toDF("id", "v"), root2)
    val m2 = Files.readString(
      Paths.get(root2, "metadata", "v1.metadata.json"))
    Files.writeString(Paths.get(root2, "metadata", "v1.metadata.json"),
      m2.replace("""{"spec-id":0,"fields":[]}""",
        """{"spec-id":0,"fields":[{"name":"id_bucket","transform":"bucket[4]","source-id":1,"field-id":1000}]}"""))
    val e4 = intercept[IllegalArgumentException] {
      IcebergWrite.append(spark, Seq((2L, "b")).toDF("id", "v"), root2)
    }
    assert(e4.getMessage.contains("bucket[4]") &&
      e4.getMessage.contains("identity"))
  }

  test("multi-column and non-string partition types; per-partition " +
      "file split") {
    import spark.implicits._
    val root = fresh()
    val df = (1L to 8L).map(i => (i, i % 2, i % 2 == 0))
      .toDF("id", "m", "even")
    IcebergWrite.create(spark, df, root, partitionBy = Seq("m", "even"))
    val meta = metaJson(root, 1)
    assert(Json.long(meta, "last-partition-id").contains(1001L))
    val mf = avro(Json.str(Json.list(meta, "snapshots").head,
      "manifest-list").get).head.get("manifest_path").toString
    val tuples = avro(mf).map(_.get("data_file").asInstanceOf[GenericRecord]
      .get("partition").asInstanceOf[GenericRecord])
      .map(p => (p.get("m").toString.toLong, p.get("even").toString.toBoolean))
      .toSet
    assert(tuples === Set((0L, true), (1L, false)),
      "each file carries exactly one tuple")
    assert(IcebergRead.read(spark, root).count() === 8L)
    assert(IcebergRead.read(spark, root)
      .where(org.apache.spark.sql.functions.col("m") === 1L).count() === 4L)
  }
}
