package graft

import org.apache.spark.sql.functions._
import graft.functions.PortableHashes

/** Codegen-path parity for PortableHashes on a real session: the
  * native expression and the shared scalar forms (`hash`, `hashSql`)
  * must equal the literal SQL conv/substring/sha2 reference below,
  * element for element, including null elements, empty arrays, and
  * the folded modulus. */
class PortableHashesSpec extends SparkSpec {

  private val ph =
    "cast(conv(substring(sha2(x, 256), 1, 15), 16, 10) as bigint)"

  test("native hashes equal the SQL form, raw and with modulus") {
    import spark.implicits._
    val df = Seq(
      Seq("alpha", "beta", "gamma delta", ""),
      Seq("é", "日本", "€uro", "line\nbreak"),
      Seq.empty[String],
      Seq("repeated", "repeated")
    ).toDF("arr")
    val got = df.select(
      PortableHashes.hashes(col("arr")).as("raw"),
      PortableHashes.hashes(col("arr"), 2147483647L).as("modded"),
      expr(s"transform(arr, x -> $ph)").as("sql_raw"),
      expr(s"transform(arr, x -> $ph % 2147483647)").as("sql_modded"),
      transform(col("arr"), x => PortableHashes.hash(x)).as("shared_col"),
      expr(s"transform(arr, x -> ${PortableHashes.hashSql("x")})")
        .as("shared_sql"))
    got.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](2), "raw mismatch")
      assert(r.getSeq[Long](1) == r.getSeq[Long](3), "modded mismatch")
      assert(r.getSeq[Long](4) == r.getSeq[Long](2), "shared Column form mismatch")
      assert(r.getSeq[Long](5) == r.getSeq[Long](2), "shared SQL form mismatch")
    }
  }

  test("SQL registration: portable_hashes callable with and without mod") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      s"""SELECT portable_hashes(array('abc')) AS raw,
         |       portable_hashes(array('abc'), 2147483647) AS modded,
         |       transform(array('abc'), x -> $ph) AS want
         |""".stripMargin).collect().head
    assert(r.getSeq[Long](0) == r.getSeq[Long](2))
    assert(r.getSeq[Long](1) == r.getSeq[Long](2).map(_ % 2147483647L))
  }

  test("SQL registration covers the whole native-function surface") {
    graft.functions.GraftFunctions.register(spark)
    // minhash_sigs over reduced hashes: first signature family value
    // matches the arithmetic the SQL form spells out
    val m = spark.sql(
      """SELECT minhash_sigs(portable_hashes(array('a','b'), 2147483647), 4) AS sigs,
        |       transform(sequence(0, 3), j -> array_min(transform(
        |         portable_hashes(array('a','b'), 2147483647),
        |         h -> (h * (j + 1) + 37 * j + 101) % 2147483647))) AS want
        |""".stripMargin).collect().head
    assert(m.getSeq[Long](0) == m.getSeq[Long](1))
    // srp_signatures from SQL equals the Column-API signatures
    import org.apache.spark.sql.functions.col
    val df = spark.sql(
      "SELECT array_repeat(CAST(0.5 AS FLOAT), 64) AS emb")
    val viaSql = df.selectExpr("srp_signatures(emb, 4, 16) AS s")
      .collect().head.getSeq[Long](0)
    val viaApi = df.select(graft.functions.SrpSignatures.signatures(
      col("emb"), graft.ops.VectorOps.srpPlanes(64), 16).as("s"))
      .collect().head.getSeq[Long](0)
    assert(viaSql == viaApi && viaSql.length == 4)
  }

  test("SparkSessionExtensions hook registers the functions") {
    import org.apache.spark.sql.SparkSession
    spark // force the shared session first so we can restore it
    // getOrCreate returns the active/default session, which would make
    // this test silently reuse imperative registration — clear both
    // and build a genuinely new session (same SparkContext) through
    // the GraftExtensions injector. The `spark.sql.extensions` conf
    // is STATIC (read only at SparkContext creation, so inert on a
    // reused test context); `withExtensions` is the public
    // programmatic route to the same injection point.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[1]")
      .appName("graft-ext-test")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      assert(s2 ne spark, "extension test must not reuse the shared session")
      val r = s2.sql(
        """SELECT portable_hashes(array('xyz'), 16) AS h,
          |       array_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
          |                 array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d
          |""".stripMargin).collect().head
      assert(r.getSeq[Long](0).head >= 0L && r.getSeq[Long](0).head < 16L)
      assert(r.getDouble(1) == 11.0)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("null elements pass through as nulls") {
    val df = spark.sql("SELECT array('a', CAST(NULL AS STRING), 'b') AS arr")
    val r = df.select(PortableHashes.hashes(col("arr")).as("h"))
      .collect().head.getSeq[Any](0)
    assert(r(0) != null && r(1) == null && r(2) != null)
  }
}
