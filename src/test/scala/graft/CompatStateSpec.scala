package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{DataDrivenWindow, StreamingCompat}
import graft.streaming.DataDrivenWindow._
import graft.streaming.StreamingCompat.{pack, unpack}

/** The compat window's packed GroupState: it carries mixed per-event
  * metadata across micro-batches, survives Spark's encoder, and stays
  * compact in the state store. */
class CompatStateSpec extends SparkSpec {

  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"

  /** Event `i` of key `k`, 0.3 s apart, with metadata cycling per
    * event so windows open on events restored from state. */
  private def mixed(k: Int, i: Int): CompatPoint = CompatPoint(
    s"k$k", i * 300000L, i.toLong,
    if (i % 4 == 3) null else s"dev-${(i + k) % 3}", s"sess-${i % 2}",
    if (i % 3 == 0) Seq("speed", "player") else Seq("v", "w"),
    Seq((i * 7 + k).toString, k.toString))

  test("mixed metadata per key: streaming windows equal the batch fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val batches = (0 until 6).map(b =>
      for (k <- 0 until 3; i <- b * 4 until (b + 1) * 4) yield mixed(k, i))
    val stream = MemoryStream[CompatPoint]
    val query = StreamingCompat.windows(spark, stream.toDS())
      .writeStream.format("memory").queryName("compat_mixed_out")
      .outputMode(OutputMode.Append).start()
    try {
      batches.foreach { b => stream.addData(b); query.processAllAvailable() }
      val got = spark.table("compat_mixed_out").as[CompatRow].collect()
        .sortBy(r => (r.key, r.tsUs)).toVector
      val want = (0 until 3).flatMap { k =>
        val perKey = batches.map(_.filter(_.key == s"k$k").sortBy(p => (p.tsUs, p.seq)))
        DataDrivenWindow.replay(emptyState, perKey.iterator)._2
      }.sortBy(r => (r.key, r.tsUs)).toVector
      assert(want.nonEmpty)
      // windows open on queued events restored from state, and not all
      // on the same deviceId/names
      assert(want.map(r => (r.deviceId, r.names)).distinct.length > 1)
      assert(got == want)
    } finally query.stop()
  }

  test("packed state survives Spark's encoder") {
    import spark.implicits._
    val states = Seq(
      "a" -> emptyState,
      "b" -> KeyState(Some(5L), Vector(
        CompatPoint("b", 1L, 0L, null, "", null, Seq("1", null, "")),
        CompatPoint("b", 2L, 1L, "d", null, Seq.empty, null),
        CompatPoint("b", 3L, 2L, null, "", null, Seq.empty))),
      "c" -> KeyState(None, (0 until 10).map(mixed(1, _).copy(key = "c")).toVector))
    val back = spark.createDataset(states.map(_._2).map(pack)).collect()
    assert(states.zip(back).forall { case ((k, st), ps) => unpack(k, ps) == st })
  }

  // One micro-batch queues 100 events on each of 8 keys (no window
  // closes). Measured: 6,220 state-store bytes per key packed, 19,508
  // with one CompatPoint struct per queued event.
  test("state-size guard: 100 queued events cost under 8 KB per key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val keys = 8
    val prev = spark.conf.getOption(ProviderConf)
    spark.conf.set(ProviderConf,
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    val stream = MemoryStream[CompatPoint]
    val query = StreamingCompat.windows(spark, stream.toDS())
      .writeStream.format("noop").outputMode(OutputMode.Append).start()
    try {
      stream.addData(for (k <- 0 until keys; i <- 0 until 100) yield
        CompatPoint(s"sess-$k:$k", i * 9000L, i.toLong, s"dev-${k % 3}", s"sess-$k",
          Seq("speed", "player"), Seq((i * 37 % 1000).toString, k.toString)))
      query.processAllAvailable()
      val op = query.lastProgress.stateOperators(0)
      assert(op.numRowsTotal == keys)
      info(s"state store: ${op.memoryUsedBytes / keys} bytes per key")
      assert(op.memoryUsedBytes / keys < 8000L)
    } finally {
      query.stop()
      prev match {
        case Some(v) => spark.conf.set(ProviderConf, v)
        case None => spark.conf.unset(ProviderConf)
      }
    }
  }
}
