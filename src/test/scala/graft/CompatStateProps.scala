package graft

import org.scalacheck.{Gen, Prop, Properties}
import graft.streaming.DataDrivenWindow._
import graft.streaming.StreamingCompat.{pack, unpack}

/** The compat window's packed state encoding is lossless: any KeyState
  * whose queued events carry the grouping key survives
  * `unpack(key, pack(st))` unchanged — empty queues, a `None` start,
  * null and empty names/values arrays, null strings, values of
  * different lengths, and several distinct (deviceId, sessionId,
  * names) within one key. */
object CompatStateProps extends Properties("graft.compat-state") {

  private val genStr: Gen[String] =
    Gen.frequency(1 -> Gen.const(null), 1 -> Gen.const(""),
      6 -> Gen.oneOf("dev-0", "dev-1", "sess-7", "speed", "player", "1.5", "-3", "x:y"))

  private val genStrs: Gen[Seq[String]] =
    Gen.frequency(1 -> Gen.const(null), 1 -> Gen.const(Seq.empty[String]),
      6 -> Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, genStr)))

  private val genMeta: Gen[(String, String, Seq[String])] =
    for (d <- genStr; s <- genStr; ns <- genStrs) yield (d, s, ns)

  private def genState(key: String): Gen[KeyState] = for {
    start <- Gen.option(Gen.chooseNum(0L, Long.MaxValue / 2))
    metas <- Gen.chooseNum(1, 4).flatMap(Gen.listOfN(_, genMeta))
    n <- Gen.frequency(1 -> Gen.const(0), 4 -> Gen.chooseNum(1, 120))
    events <- Gen.listOfN(n, for {
      ts <- Gen.chooseNum(0L, 5000000L)
      seq <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
      m <- Gen.oneOf(metas)
      vs <- genStrs
    } yield CompatPoint(key, ts, seq, m._1, m._2, m._3, vs))
  } yield KeyState(start, events.toVector)

  private val genKeyed: Gen[(String, KeyState)] =
    Gen.oneOf("sess-1:1", "", "k").flatMap(k => genState(k).map(k -> _))

  property("unpack(key, pack(st)) == st") = Prop.forAll(genKeyed) {
    case (key, st) => Prop(unpack(key, pack(st)) == st)
  }

  // each distinct (deviceId, sessionId, names) is stored once per key
  property("metadata is dictionary-encoded") = Prop.forAll(genKeyed) {
    case (_, st) =>
      val ps = pack(st)
      val distinct = st.queue.map(p => (p.deviceId, p.sessionId, p.names)).distinct
      Prop(ps.devices.length == distinct.length &&
        ps.tsUs.length == st.queue.length)
  }
}
