package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.PortableHashes

/** Streaming table fingerprint — the incremental form of the batch
  * q_table_fingerprint audit fold: because both accumulators are
  * associative and order-free (bit XOR; exact DECIMAL(38,0) sum
  * reduced mod 2^62), the fingerprint of an ingest can be maintained
  * LIVE as rows arrive, and at any quiesce point it must equal the
  * batch fold over everything ingested so far — which is how a
  * landing pipeline proves its sink matches its source continuously
  * instead of re-scanning the table after the fact.
  *
  * State is a single aggregation row (three numbers), independent of
  * stream length — Complete output mode re-emits it per micro-batch.
  * The row rendering (ints/strings verbatim, epoch-µs timestamps,
  * floored micro-unit values, concat_ws) is exactly the batch
  * operator's contract; StreamingFingerprintSpec pins stream ≡ batch
  * ≡ the oracled q_table_fingerprint events row, and that the result
  * is invariant under micro-batch re-chunking.
  */
object StreamingFingerprint {

  /** Input columns: (event_id long, user_id long, event_type string,
    * ts_us long, value double). Output (Complete mode): one row
    * (n_rows, xor_hash, sum_hash_mod) — the running fingerprint. */
  def fingerprint(events: DataFrame): DataFrame =
    events
      .select(concat_ws("|", col("event_id"), col("user_id"),
        col("event_type"), col("ts_us"),
        floor(col("value") * 1000000).cast("long")).as("row_str"))
      .select(expr(PortableHashes.hashSql("cast(row_str as string)")).as("h"))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(h)").as("xor_hash"),
        (sum(col("h").cast("decimal(38,0)")) %
          lit("4611686018427387904").cast("decimal(38,0)"))
          .cast("long").as("sum_hash_mod"))
}
