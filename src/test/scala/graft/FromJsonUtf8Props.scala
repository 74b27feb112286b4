package graft

import java.nio.charset.StandardCharsets.{UTF_16BE, UTF_16LE, UTF_8}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

import graft.functions.FromJsonUtf8
import graft.sources.JsonEvents

/** Differential property: for every record, `FromJsonUtf8` gives the
  * row `from_json(value, JsonEvents.schema, PERMISSIVE)` gives, in
  * both its generated-code and interpreted forms, under the UTC
  * session zone and a zone with DST gaps.
  *
  * Records are canonical envelopes and mutations of them: missing,
  * extra, duplicate and case-shifted fields; numbers, objects and
  * nulls where strings or arrays are expected; bad, zone-less, DST-gap
  * and offset-bearing timestamps; leading whitespace, a UTF-8 BOM,
  * NUL bytes, UTF-16 encodings and invalid UTF-8; truncated records,
  * trailing garbage, the empty string and top-level arrays and
  * scalars. Each property is one corpus of `N` records and one Spark
  * job. */
object FromJsonUtf8Props extends Properties("graft.from-json-utf8") {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").appName("FromJsonUtf8Props")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate() // shared JVM-wide with the ScalaTest suites

  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(1)

  private val N = 800

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  private val text: Gen[String] = Gen.oneOf("dev-1", "sess-7", "", " ", "soak",
    "é", "日本語", "😀", "a\"b", "x\ny", "tab\t", "\u2028", "\u0085", "speed", "player")

  /** A JSON fragment where a string is expected: mostly strings,
    * sometimes raw escapes, numbers, booleans, objects, arrays, null. */
  private val stringish: Gen[String] = Gen.frequency(
    8 -> text.map(quote),
    1 -> Gen.oneOf("\"\\u00e9\"", "\"\\ud83d\\ude00\"", "\"\\ud800\"", "'single'"),
    1 -> Gen.oneOf("123", "-1.5e3", "true", "null", "{\"a\":1}", "[1,2]", "{}", "[]"))

  private val timestamp: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("2026-01-01T00:00:00.010Z", "2026-01-01T00:00:00Z",
      "2024-03-10T02:30:00", "2024-03-10T02:30:00.123456", "2024-11-03T01:30:00",
      "2024-03-10T02:30:00+05:45", "2024-03-10T10:30:00-08:00", "2024-01-01 00:00:00",
      "2024-01-01", "2024-13-01T00:00:00Z", "2024-01-01T00:00:00.1234567Z", "garbage",
      "", "1704067200", "2024-02-30T00:00:00Z").map(quote),
    1 -> Gen.oneOf("1704067200", "1.5", "null", "true", "{\"t\":1}", "[\"2024-01-01\"]"))

  private val strings: Gen[String] = Gen.frequency(
    6 -> Gen.chooseNum(0, 3).flatMap(Gen.listOfN(_, text)).map(_.map(quote).mkString("[", ",", "]")),
    2 -> Gen.oneOf("null", "[\"1\",2,null,{\"a\":1}]", "\"notarray\"", "[[\"x\"]]",
      "[null]", "{}", "[\"speed\",\"player\"]", "[ \"7\" , \"3\" ]"))

  private val fields: Gen[List[(String, String)]] = for {
    ts <- timestamp; dev <- stringish; sess <- stringish; st <- stringish
    names <- strings; values <- strings
  } yield List("Timestamp" -> ts, "DeviceId" -> dev, "SessionId" -> sess,
    "SensorType" -> st, "Names" -> names, "Values" -> values)

  /** Field-level mutations of a canonical field list. */
  private def mutateFields(fs: List[(String, String)]): Gen[List[(String, String)]] =
    Gen.oneOf(
      Gen.const(fs),
      Gen.choose(0, fs.size - 1).map(i => fs.patch(i, Nil, 1)), // missing
      stringish.map(v => fs :+ ("Extra" -> v)), // extra
      Gen.zip(Gen.oneOf(fs.map(_._1)), stringish).map(fs :+ _), // duplicate
      Gen.const(fs.map { case (k, v) => (if (k == "Timestamp") "timestamp" else k) -> v }),
      Gen.const(fs.reverse),
      Gen.const(fs :+ ("_corrupt_record" -> "\"planted\"")))

  private def render(fs: List[(String, String)], spaced: Boolean): String =
    if (spaced) fs.map { case (k, v) => s" ${quote(k)} : $v " }.mkString("{", ",", "}")
    else fs.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")

  private val canonical: Gen[String] = for {
    fs <- fields; m <- mutateFields(fs); spaced <- Gen.frequency(4 -> false, 1 -> true)
  } yield render(m, spaced)

  private val badUtf8: Gen[Array[Byte]] = Gen.oneOf(
    Seq(0xff), Seq(0xc0, 0x80), Seq(0xed, 0xa0, 0x80), Seq(0xf4, 0x90, 0x80, 0x80),
    Seq(0x80), Seq(0xe2, 0x82), Seq(0xf0, 0x9f, 0x98), Seq(0xfe, 0xfe))
    .map(_.map(_.toByte).toArray)

  /** Byte-level mutations of a rendered record. */
  private def mutateBytes(json: String): Gen[Array[Byte]] = {
    val b = json.getBytes(UTF_8)
    def at(i: Int, ins: Array[Byte]) = b.take(i) ++ ins ++ b.drop(i)
    Gen.frequency(
      10 -> Gen.const(b),
      1 -> Gen.oneOf(" ", "\n", "\t", "\r\n", "  ").map(w => w.getBytes(UTF_8) ++ b),
      1 -> Gen.const(Array(0xef, 0xbb, 0xbf).map(_.toByte) ++ b), // UTF-8 BOM
      1 -> Gen.choose(0, b.length).map(at(_, Array[Byte](0))), // NUL anywhere
      1 -> Gen.choose(1, math.min(3, b.length)).map(at(_, Array[Byte](0))), // NUL in 4-byte sniff
      1 -> Gen.zip(Gen.choose(0, b.length), badUtf8).map { case (i, x) => at(i, x) },
      1 -> Gen.choose(0, b.length).map(b.take), // truncated
      1 -> Gen.oneOf(json.getBytes(UTF_16LE), json.getBytes(UTF_16BE)),
      1 -> Gen.oneOf("xyz", "}", " {\"a\":1}", ",", "\u0000").map(t => b ++ t.getBytes(UTF_8)),
      1 -> Gen.const("[" + json + "]").map(_.getBytes(UTF_8)))
  }

  private val whole: Gen[Array[Byte]] = Gen.oneOf("", "[]", "null", "123", "\"x\"", "{}",
    "   ", "{", "}", "[{}]", "{\"Timestamp\":\"2026-01-01T00:00:00Z\"}", "\u0000{}", "{\u0000}")
    .map(_.getBytes(UTF_8))

  private val record: Gen[Array[Byte]] =
    Gen.frequency(12 -> canonical.flatMap(mutateBytes), 1 -> whole)

  private val Value = StructType(Seq(StructField("b", BinaryType)))

  /** One job: `from_json` and the generated-code `FromJsonUtf8` over
    * the corpus; then the interpreted form on the driver. */
  private def agrees(zone: String)(corpus: List[Array[Byte]]): Prop = {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    val (reference, native) = try {
      val rows = spark.sparkContext.parallelize(corpus.map(Row(_)), 4)
      spark.createDataFrame(rows, Value)
        .select(col("b").cast(StringType).as("value"))
        .select(
          from_json(col("value"), JsonEvents.schema,
            Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")),
          JsonEvents.envelope(col("value")))
        .collect().map(r => (r.get(0), r.get(1))).toSeq.unzip
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
    val interpreted = {
      val e = FromJsonUtf8(BoundReference(0, StringType, nullable = true),
        JsonEvents.schema, Some(zone))
      val toScala = CatalystTypeConverters.createToScalaConverter(JsonEvents.schema)
      corpus.map(b => toScala(e.eval(InternalRow(UTF8String.fromBytes(b)))))
    }
    def diffs(got: Seq[Any]) = corpus.indices.filter(i => reference(i) != got(i)).map { i =>
      s"${new String(corpus(i), UTF_8)} [${corpus(i).map(x => f"$x%02x").mkString}]: " +
        s"from_json ${reference(i)}, native ${got(i)}"
    }
    val corrupt = reference.count(r => r != null && r.asInstanceOf[Row].getString(6) != null)
    val withTs = reference.count(r => r != null && r.asInstanceOf[Row].get(0) != null)
    val bytePath = corpus.count(b => b.nonEmpty && b(0) == '{' &&
      b.slice(1, 4).forall(_ != 0) && UTF8String.fromBytes(b).isValid)
    (diffs(native).isEmpty :| s"codegen differs:\n${diffs(native).take(5).mkString("\n")}") &&
      (diffs(interpreted).isEmpty :|
        s"interpreted differs:\n${diffs(interpreted).take(5).mkString("\n")}") &&
      ((corrupt > N / 20 && withTs > N / 5) :| s"corrupt $corrupt, with Timestamp $withTs") &&
      ((bytePath > N / 2 && corpus.size - bytePath > N / 10) :|
        s"byte path $bytePath of ${corpus.size}")
  }

  property("matches from_json under UTC") =
    Prop.forAllNoShrink(Gen.listOfN(N, record))(agrees("UTC"))

  property("matches from_json under America/Los_Angeles") =
    Prop.forAllNoShrink(Gen.listOfN(N, record))(agrees("America/Los_Angeles"))
}
