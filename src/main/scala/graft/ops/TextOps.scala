package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.Det._
import graft.functions.PortableHashes

/** Text-analysis operators for the LLM-data pipeline (north-star brief:
  * language-ID, quality scoring, token counting, fingerprinting, and
  * the SimHash / n-gram-Jaccard near-dup family) over `documents`.
  *
  * Same ground rules as LlmOps: pure column expressions (whole-stage
  * codegen, no UDFs), LSH/band-style candidate generation instead of
  * all-pairs products, and cross-engine determinism via the portable
  * sha256-derived hash + round-6 discipline.
  */
object TextOps {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  /** documents tokenized once: (doc_id, lang, source, text, toks).
    * Repartitioned when feeding sha-heavy stages: the driver testdata
    * is one small parquet split, and per-row hashing must not
    * serialize on a single core (at real scale the scan has many
    * splits and the hash cost dwarfs the tiny shuffle). */
  private def tokenized(s: SparkSession, dir: String,
                        spread: Boolean = false): DataFrame = {
    val d = t(s, dir, "documents")
    (if (spread) Tables.spread(s, d) else d)
      .withColumn("toks", split(col("text"), " "))
  }

  /** Word 3-gram shingles per doc (shared with LlmOps.minhashDedup's
    * shape; docs under 3 tokens are dropped identically both sides). */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    tokenized(s, dir, spread = true)
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), expr(
        """transform(sequence(1, size(toks) - 2),
          |  i -> concat(element_at(toks, i), ' ',
          |              element_at(toks, i + 1), ' ',
          |              element_at(toks, i + 2)))""".stripMargin).as("shingles"))


  // ------------------------------------------------------------ language ID

  /** n-gram-heuristic language ID: learn a top-5 token vocabulary per
    * language from the corpus itself (one agg + window — at scale the
    * resulting (lang × 5)-row vocab is broadcast), then classify each
    * doc by distinct-token overlap, ties to the lexicographically
    * smaller language. Emits the true-label comparison so downstream
    * can measure heuristic accuracy. */
  def langId(s: SparkSession, dir: String): DataFrame =
    langPredictions(s, dir)
      .select(col("doc_id"), col("cand_lang").as("pred_lang"), col("n_matches"),
        (col("cand_lang") === col("true_lang")).as("is_correct"))
      .orderBy("doc_id")

  /** Per-doc language prediction frame (doc_id, true_lang, cand_lang,
    * n_matches) at the argmax row — shared by the per-doc projection
    * ([[langId]]) and the corpus eval ([[langidConfusion]]). */
  private def langPredictions(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocabW = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("token"))
    val vocab = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("cnt"))
      .withColumn("r", row_number().over(vocabW)).where(col("r") <= 5)
      .select(col("lang").as("cand_lang"), col("token"))
    val docTok = docs.select(col("doc_id"), col("lang").as("true_lang"),
      explode(array_distinct(split(col("text"), " "))).as("token"))
    val predW = Window.partitionBy(col("doc_id"))
      .orderBy(col("n_matches").desc, col("cand_lang"))
    docTok.join(broadcast(vocab), "token")
      .groupBy(col("doc_id"), col("true_lang"), col("cand_lang"))
      .agg(count(lit(1)).as("n_matches"))
      .withColumn("pr", row_number().over(predW)).where(col("pr") === 1)
  }

  /** Language-ID confusion matrix — the eval the heuristic needs
    * before anyone trusts its labels for corpus routing: per
    * (true, predicted) pair, the doc count plus the share of the true
    * language's predictions as exact ppm (recall on the diagonal,
    * leakage off it). Same eval-op family as q_ann_recall /
    * q_srp_recall.
    *
    * Scale shape: everything after [[langPredictions]]' per-doc argmax
    * is (|langs|²)-bounded — the confusion counts ride one tiny
    * combine shuffle and the per-language totals broadcast. */
  def langidConfusion(s: SparkSession, dir: String): DataFrame = {
    val cells = langPredictions(s, dir)
      .groupBy(col("true_lang"), col("cand_lang").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = cells.groupBy(col("true_lang"))
      .agg(sum(col("n_docs")).cast("long").as("lang_total"))
    cells.join(broadcast(totals), "true_lang")
      .select(col("true_lang"), col("pred_lang"), col("n_docs"),
        col("lang_total"),
        expr("1000000 * cast(n_docs as decimal(38,0)) div lang_total").as("share_ppm"))
      .orderBy("true_lang", "pred_lang")
  }

  // --------------------------------------------------------- quality score

  /** Per-doc quality signals (length, stopword ratio, type-token
    * ratio, mean token length) folded into one score. The ratio
    * columns are r6-display-rounded (safe: k/n with n < 128 can never
    * land on a 7-decimal half-boundary), but the WEIGHTED score can —
    * 0.4a+0.3b+0.3c of 6-decimal inputs hits exact x.xxxxxx5 values
    * where Spark (binary-exact) and DuckDB (decimal-repr) round
    * opposite ways. So the score ships as floor(score·1e6) micro-units
    * — floor of the same IEEE double is engine-independent. Every
    * literal is forced to double (a bare 0.4 is DECIMAL in SQL). */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val rawStop = expr("size(filter(toks, x -> x IN ('a','the','of','and','in'))) / cast(size(toks) as double)")
    val rawTtr = expr("size(array_distinct(toks)) / cast(size(toks) as double)")
    tokenized(s, dir)
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        r6(expr("aggregate(toks, 0, (a, x) -> a + length(x)) / cast(size(toks) as double)"))
          .as("mean_tok_len"),
        r6(rawStop).as("stop_ratio"),
        r6(rawTtr).as("ttr"),
        floor((
          lit(0.4) * least(size(col("toks")).cast("double") / lit(100.0), lit(1.0)) +
          lit(0.3) * (lit(1.0) - rawStop) +
          lit(0.3) * rawTtr) * lit(1000000.0)).as("quality_score_u"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------- token counting

  /** Token counting two ways: whitespace split vs a BPE-ish regex
    * tokenizer ([a-z0-9]+ runs — identical semantics in Java regex and
    * RE2). The regex path is what a real pipeline feeds to a BPE
    * trainer; counting stays a scan-only projection. */
  def tokenCountBpe(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)).as("re_toks"))
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        size(col("re_toks")).cast("long").as("n_re_tokens"),
        size(array_distinct(col("re_toks"))).cast("long").as("n_re_distinct"),
        r6(expr("aggregate(re_toks, 0, (a, x) -> a + length(x)) / cast(size(re_toks) as double)"))
          .as("avg_re_len"))
      .orderBy("doc_id")

  // ----------------------------------------------------------- PII redact

  /** Identical char-class-only regexes in Java regex and RE2. */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+1 555-[0-9]{4}"

  /** PII scrubbing pass: detect and mask email/phone contacts before a
    * corpus reaches training. The driver testdata is synthetic word
    * salad with no PII, so the query first plants deterministic contact
    * strings on a doc_id-derived subset (emails on ~2/3, phones on
    * 1/2) — the oracle then genuinely tests regex-engine parity and
    * that redaction removed every match, not just that 0 == 0. Ships
    * the redacted text as the portable hash (content check without
    * megabyte projections) plus a residual-free boolean. Scan-only —
    * the 100 TB shape is a straight projection. Regexes stick to
    * character classes + bounded quantifiers, where Java regex (Spark)
    * and RE2 (DuckDB) agree. */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val email = when(pmod(col("doc_id"), lit(3)) =!= 0,
      concat(lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com"))).otherwise(lit(""))
    val phone = when(pmod(col("doc_id"), lit(2)) === 0,
      concat(lit(" call +1 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      .otherwise(lit(""))
    t(s, dir, "documents")
      .select(col("doc_id"),
        concat(substring(col("text"), 1, 40), email, phone).as("dirty"))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col("dirty"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"))
      .select(
        col("doc_id"),
        regexp_count(col("dirty"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("dirty"), lit(PhoneRe)).cast("long").as("n_phones"),
        expr(PortableHashes.hashSql("redacted")).as("redacted_hash"),
        (regexp_count(col("redacted"), lit(EmailRe)) +
          regexp_count(col("redacted"), lit(PhoneRe)) === 0).as("clean"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------- repetition filter

  /** Repetition-based quality rule (the Gopher-style "fraction of
    * duplicate n-grams" signal): per doc, the share of word 2-grams
    * that are repeats of an earlier 2-gram, as integer ppm
    * (floor(1e6·(t−d)/t) of the same IEEE double both engines
    * compute). Docs ≥ 10% duplicate 2-grams are flagged for drop —
    * calibrated so the flag bites a real tail at sf0.01 AND sf0.1
    * (p50 ≈ 2.6%, max ≈ 18%). Scan-only, no shuffle. */
  def repetitionFilter(s: SparkSession, dir: String): DataFrame =
    tokenized(s, dir)
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"""
          .stripMargin).as("grams"))
      .select(col("doc_id"),
        size(col("grams")).cast("long").as("n_grams"),
        size(array_distinct(col("grams"))).cast("long").as("n_distinct"))
      .withColumn("rep_ppm",
        floor(lit(1000000.0) * (col("n_grams") - col("n_distinct"))
          / col("n_grams")).cast("long"))
      .withColumn("flagged", col("rep_ppm") >= 100000L)
      .orderBy("doc_id")

  // ---------------------------------------------------------- fingerprints

  /** Document fingerprinting (winnowing-lite): hash every 3-gram
    * shingle, keep hashes ≡ 0 mod 16 — a content-defined ~1/16 sample
    * that picks the SAME shingles for the same content regardless of
    * position, so shared fingerprints ⇒ shared passages. Scan-only;
    * the downstream fingerprint-equi-join is the scale-safe overlap
    * detector (same pattern as the MinHash band join). */
  def docFingerprint(s: SparkSession, dir: String): DataFrame =
    shingled(s, dir)
      .select(col("doc_id"), col("shingles"),
        filter(graft.functions.PortableHashes.hashes(col("shingles")),
          h => h % 16 === 0).as("fps"))
      .select(
        col("doc_id"),
        size(col("shingles")).cast("long").as("n_shingles"),
        size(col("fps")).cast("long").as("n_fingerprints"),
        array_min(col("fps")).as("min_fp"),
        array_max(col("fps")).as("max_fp"))
      .orderBy("doc_id")

  // -------------------------------------------------------------- near-dup

  /** SimHash near-dup: 32-bit simhash over token hashes (bit i = sign
    * of Σ±1 across token occurrences), candidate pairs from an 8-bit
    * band equi-join (4 bands), kept when hamming(a, b) ≤ 1. The band
    * join bounds the pair space; the hamming filter runs only on
    * band-collision survivors — never on the full cross product.
    *
    * Shape note: the per-bit sums run as 32 codegen'd sum() aggregates
    * over exploded (doc, token-hash) rows — one HashAggregate pass —
    * NOT as nested array-fold lambdas. The lambda formulation is
    * interpreted expression-by-expression (no whole-stage codegen) and
    * benched ~80x slower; same math, different engine path. */
  /** Distinct simhash byte-band candidate pairs with their Hamming
    * distance — the shared core of q_simhash_dedup (filters ≤ 1) and
    * q_simhash_hamming (histograms the whole distribution). */
  private def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val tok = tokenized(s, dir, spread = true)
      .select(col("doc_id"), explode(col("toks")).as("tk"))
      .select(col("doc_id"), expr(PortableHashes.hashSql("tk")).as("th"))
    val bitCols = (0 until 32).map(i =>
      sum(expr(s"if((shiftright(th, $i) & 1) = 1, 1L, -1L)")).as(s"b$i"))
    val packExpr = (0 until 32).map(i => s"if(b$i > 0, ${1L << i}L, 0L)").mkString(" + ")
    // pinned: the band self-join below references `banded` twice, and
    // multi-referenced subplans re-execute — unpinned, the whole
    // token-explode + sha + 32-sum signature aggregation runs twice.
    // The pinned frame is one (doc_id, simhash) row per document —
    // negligible storage at any scale.
    val sim = Tables.pin(tok.groupBy(col("doc_id"))
      .agg(bitCols.head, bitCols.tail: _*)
      .select(col("doc_id"), expr(s"cast($packExpr as bigint)").as("simhash")))
    val banded = sim.select(col("doc_id"), col("simhash"),
      explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("byte", expr("shiftright(simhash, 8 * band) & 255"))
    val a = banded.select(col("band"), col("byte"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = banded.select(col("band"), col("byte"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("band", "byte"))
      .where(col("doc_a") < col("doc_b"))
      // A pair produces one join row per AGREEING byte-band (byte b
      // of sim_a ^ sim_b is zero ⇔ the pair collides in band b), all
      // carrying the same hamming — so the old `.distinct()` here
      // shuffled the ENTIRE unfiltered candidate frame just to fold
      // those ≤ 4 copies. Keeping exactly the row whose band is the
      // pair's FIRST agreeing band (the index of the first zero byte
      // of the xor) selects one canonical copy per pair with a pure
      // codegen filter — same rows out, one full exchange of the
      // frame removed (guide §2.4).
      .withColumn("x", expr("sim_a ^ sim_b"))
      .where(col("band") === expr(
        """CASE WHEN (x & 255) = 0 THEN 0
          |     WHEN (shiftright(x, 8) & 255) = 0 THEN 1
          |     WHEN (shiftright(x, 16) & 255) = 0 THEN 2
          |     ELSE 3 END""".stripMargin))
      .select(col("doc_a"), col("doc_b"),
        expr("cast(bit_count(x) as bigint)").as("hamming"))
  }

  def simhashDedup(s: SparkSession, dir: String): DataFrame =
    simhashPairs(s, dir)
      .where(col("hamming") <= 1)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")

  /** Simhash threshold calibration — the Hamming-distance HISTOGRAM
    * over the byte-band candidate pairs q_simhash_dedup prunes with
    * its fixed ≤ 1 cutoff: pair counts and candidate share per
    * distance, the distribution that says where the near-dup/noise
    * valley actually sits before committing to a threshold (Manku et
    * al.'s k choice, made from data instead of folklore). Same
    * collision-bounded candidate frame; the histogram is ONE combine
    * to a ≤ 33-row grid.
    *
    * Scale shape: identical to q_simhash_dedup's band join; the
    * histogram grid is constant-size with shares riding it. */
  def simhashHamming(s: SparkSession, dir: String): DataFrame = {
    val grid = Window.partitionBy(lit(1))
    simhashPairs(s, dir)
      .groupBy(col("hamming"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
      .withColumn("n_cands", sum(col("n_pairs")).over(grid).cast("long"))
      .select(col("hamming"), col("n_pairs"),
        expr("""cast(cast(n_pairs as decimal(38,0)) * 1000000
          div n_cands as bigint)""").as("share_ppm"))
      .orderBy("hamming")
  }

  /** Banded MinHash rows with the hashed shingle set carried along:
    * (doc_id, hset, band, sig) — the shared candidate-generation core
    * of q_ngram_jaccard and q_minhash_containment. The hset is carried
    * THROUGH the band join instead of joined back: the sha-shingling
    * subplan executes twice (the band self-join), not four times
    * (self-joins re-execute their subplan — no CSE), at the cost of
    * shipping the ~100-long hashed set with each of the 8 band rows.
    * Hashing stays a narrow per-doc HOF pipeline: an explode→groupBy
    * reformulation benched 2.3x slower (it shuffles every shingle row
    * just to regroup). */
  private def bandedHset(s: SparkSession, dir: String,
                         nBands: Int = 8): DataFrame =
    shingled(s, dir)
      .select(col("doc_id"), array_distinct(
        // native codegen'd hashing (PortableHashes scaladoc) — the
        // transform-lambda form runs interpreted; identical values
        graft.functions.PortableHashes.hashes(
          col("shingles"), 2147483647L)).as("hset"))
      .select(col("doc_id"), col("hset"),
        graft.functions.MinhashSigs.sigs(col("hset"), nBands).as("sigs"))
      .select(col("doc_id"), col("hset"), explode(expr(
        s"""transform(sequence(0, ${nBands - 1}), b -> struct(
           |  b AS band, element_at(sigs, b + 1) AS sig))""".stripMargin)).as("bs"))
      .select(col("doc_id"), col("hset"), col("bs.band").as("band"), col("bs.sig").as("sig"))

  /** Exact n-gram Jaccard similarity, computed only on MinHash band
    * candidates (same one-sha-per-shingle universal-hash banding as
    * LlmOps.minhashDedup) — the verify step of a near-dup pipeline:
    * LSH proposes, Jaccard disposes. Jaccard runs over the DISTINCT
    * HASHED shingle sets: long-array intersects are ~3x cheaper than
    * string-array ones and the carried set payload shrinks the same
    * way; both engines use the identical hash, so any (rare) collision
    * is still deterministic cross-engine. min-over-distinct equals
    * min-over-multiset, so the band signatures are unchanged. The
    * Jaccard is computed per colliding band and deduped after —
    * identical value on every copy (pure function of the two sets),
    * so the distinct is exact. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val banded = bandedHset(s, dir)
    banded.select(col("band"), col("sig"), col("doc_id").as("doc_a"), col("hset").as("set_a"))
      .join(banded.select(col("band"), col("sig"), col("doc_id").as("doc_b"),
        col("hset").as("set_b")), Seq("band", "sig"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), r6(
        size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
        size(array_union(col("set_a"), col("set_b"))).cast("double")).as("jaccard"))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Asymmetric containment |A∩B|/|A| (and the reverse direction)
    * over the same MinHash band candidates as q_ngram_jaccard — the
    * doc-in-doc signal Jaccard hides: a short document wholly quoted
    * inside a long one has low Jaccard but containment ≈ 1, which is
    * what dedup-by-subsumption and quote/boilerplate detection key
    * on. Same carried-hset band join and post-join distinct; shingle
    * sets are < 128 elements, so round-6 on the k/n ratios is
    * cross-engine exact (no 7-decimal half boundary exists). */
  def minhashContainment(s: SparkSession, dir: String): DataFrame = {
    val banded = bandedHset(s, dir)
    banded.select(col("band"), col("sig"), col("doc_id").as("doc_a"), col("hset").as("set_a"))
      .join(banded.select(col("band"), col("sig"), col("doc_id").as("doc_b"),
        col("hset").as("set_b")), Seq("band", "sig"))
      .where(col("doc_a") < col("doc_b"))
      .withColumn("n_common",
        size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        r6(col("n_common").cast("double") /
          size(col("set_a")).cast("double")).as("contain_a"),
        r6(col("n_common").cast("double") /
          size(col("set_b")).cast("double")).as("contain_b"))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Sliding-window document chunking (chunk = 32 tokens, stride =
    * 24, 8-token overlap) — the context-window prep stage of a
    * RAG / pretraining pipeline: every token lands in ≥ 1 chunk,
    * boundaries overlap so no phrase is ever split across a hard
    * edge, and each chunk ships a portable content hash so chunk-
    * level dedup / retrieval downstream never re-reads the text.
    * Pure scan + explode — output rows scale with corpus tokens and
    * no shuffle exists until a downstream op introduces one; the
    * chunk count per doc is ceil(n / stride) (exact integer div, no
    * floating ceil), and slice() clamps the tail chunk identically
    * in both engines. */
  def docChunk(s: SparkSession, dir: String): DataFrame =
    tokenized(s, dir)
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("n"))
      .where(col("n") >= 1)
      .select(col("doc_id"),
        explode(expr("sequence(0L, (n + 23) div 24 - 1)")).as("chunk_id"),
        col("toks"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * 24 + 1).as("start_tok"),
        expr("slice(toks, cast(chunk_id * 24 + 1 as int), 32)").as("chunk"))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        expr(PortableHashes.hashSql("concat_ws(' ', chunk)")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")

  /** Chunk-level exact dedup over the q_doc_chunk hashes — repeated-
    * passage (boilerplate) detection: a 32-token window that recurs
    * across documents is exactly the shared template/quote content a
    * pretraining pipeline strips even when whole documents are
    * unique. GroupBy on the already-computed chunk hash (one combine
    * shuffle, uniform key); the keeper slot packs (doc, chunk) into
    * one integer min so "first occurrence" needs no second pass —
    * chunk_id < 1e6 by construction (docs are bounded by the chunk
    * stride long before that). */
  def chunkDedup(s: SparkSession, dir: String): DataFrame =
    docChunk(s, dir)
      .groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id") * 1000000L + col("chunk_id")).as("slot"))
      .where(col("n_occurrences") > 1)
      .select(col("chunk_hash"), col("n_occurrences"), col("n_docs"),
        expr("slot div 1000000").as("first_doc"),
        (col("slot") % 1000000L).as("first_chunk"))
      .orderBy("chunk_hash")

  /** MinHash-estimated Jaccard vs exact — the sketch-quality eval a
    * pipeline runs before trusting signature-only dedup at scale
    * (where carrying full shingle sets is no longer affordable and
    * the 128-int signature is all that ships). Per doc, 128 minhash
    * values from the same universal-hash family the bands use — the
    * 8 band signatures ARE entries 0..7 of the family, so banding
    * falls out of the signature array for free. Estimate = agreeing
    * functions / 128, a dyadic-exact double emitted unrounded (k/128
    * cannot round differently across engines); the absolute
    * estimation error vs the exact Jaccard ships as floor-micro-unit
    * BIGINTs. At scale only the 128-long signature rides the join —
    * the hset here is carried solely to compute the ground truth. */
  def minhashJaccardEst(s: SparkSession, dir: String): DataFrame = {
    val base = shingled(s, dir)
      .select(col("doc_id"), array_distinct(
        graft.functions.PortableHashes.hashes(
          col("shingles"), 2147483647L)).as("hset"))
      .select(col("doc_id"), col("hset"),
        // one generated double loop — the 128 array_min/transform
        // columns run interpreted and dominated the query (1.76 s vs
        // 0.89 s for the same join without them; MinhashSigs scaladoc)
        graft.functions.MinhashSigs.sigs(col("hset"), 128).as("mh"))
    val banded = base.select(col("doc_id"), col("hset"), col("mh"),
      explode(expr(
        """transform(sequence(0, 7), b -> struct(
          |  b AS band, element_at(mh, b + 1) AS sig))""".stripMargin)).as("bs"))
      .select(col("doc_id"), col("hset"), col("mh"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))
    banded.select(col("band"), col("sig"), col("doc_id").as("doc_a"),
        col("hset").as("set_a"), col("mh").as("mh_a"))
      .join(banded.select(col("band"), col("sig"), col("doc_id").as("doc_b"),
        col("hset").as("set_b"), col("mh").as("mh_b")), Seq("band", "sig"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("size(filter(zip_with(mh_a, mh_b, (x, y) -> x = y), v -> v))")
          .cast("long").as("n_agree"),
        (expr("size(filter(zip_with(mh_a, mh_b, (x, y) -> x = y), v -> v))")
          .cast("double") / lit(128.0)).as("est_jaccard"),
        r6(size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          size(array_union(col("set_a"), col("set_b"))).cast("double"))
          .as("jaccard"))
      .distinct()
      .withColumn("abs_err_u",
        floor(abs(col("est_jaccard") - col("jaccard")) * lit(1000000.0))
          .cast("long"))
      .orderBy("doc_a", "doc_b")
  }

  /** b-bit minhash (Li & König 2010, b=1): keep only the LOWEST BIT
    * of each of the 128 minhash values, packed into four 32-bit words
    * — 16 bytes of signature state per document instead of 1 KB, the
    * 64× memory/network shrink that makes minhash indexes fit at
    * 100 TB. Estimation: for b=1 the expected bit-agreement is
    * (1+J)/2, so Ĵ = 2·agree/128 − 1 (the unbiasing that corrects
    * the 50% random-collision floor). Emits, per LSH candidate pair,
    * the full-width and 1-bit agreement counts and both estimates in
    * truncating ppm plus their gap — the measured answer to "can we
    * afford to shrink the signature store 64×". Words are packed by
    * a 32-step integer fold (a·2+bit: overflow-safe in 32-bit
    * chunks; a 64-bit pack would overflow BIGINT on a set high bit);
    * XOR + bit_count on the packed words does the agreement in 4
    * codegen'd integer ops — exactly how a serving layer would.
    *
    * Scale shape: identical to q_minhash_jaccard_est — per-doc
    * narrow hash pipeline, band equi-join bounded by collisions; the
    * pair-side arithmetic is 4 integer xor/popcounts instead of a
    * 128-lane compare. */
  def bbitMinhash(s: SparkSession, dir: String): DataFrame = {
    val packs = (0 until 4).map(k => expr(
      s"""aggregate(slice(transform(mh, x -> x % 2), ${32 * k + 1}, 32),
         |  cast(0 as bigint), (a, x) -> a * 2 + x)""".stripMargin)
      .as(s"w$k"))
    val base = shingled(s, dir)
      .select(col("doc_id"), array_distinct(
        graft.functions.PortableHashes.hashes(
          col("shingles"), 2147483647L)).as("hset"))
      .select(col("doc_id"),
        graft.functions.MinhashSigs.sigs(col("hset"), 128).as("mh"))
      .select(col("doc_id") +: col("mh") +: packs: _*)
    val banded = base.select(col("doc_id"), col("mh"),
      col("w0"), col("w1"), col("w2"), col("w3"),
      explode(expr(
        """transform(sequence(0, 7), b -> struct(
          |  b AS band, element_at(mh, b + 1) AS sig))""".stripMargin)).as("bs"))
      .select(col("doc_id"), col("mh"),
        col("w0"), col("w1"), col("w2"), col("w3"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))
    val left = banded.select(col("band"), col("sig"),
      col("doc_id").as("doc_a"), col("mh").as("mh_a"),
      col("w0").as("a0"), col("w1").as("a1"),
      col("w2").as("a2"), col("w3").as("a3"))
    val right = banded.select(col("band"), col("sig"),
      col("doc_id").as("doc_b"), col("mh").as("mh_b"),
      col("w0").as("b0"), col("w1").as("b1"),
      col("w2").as("b2"), col("w3").as("b3"))
    left.join(right, Seq("band", "sig"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("size(filter(zip_with(mh_a, mh_b, (x, y) -> x = y), v -> v))")
          .cast("long").as("n_agree_full"),
        expr("""cast(128 - bit_count(a0 ^ b0) - bit_count(a1 ^ b1)
          - bit_count(a2 ^ b2) - bit_count(a3 ^ b3) as bigint)""")
          .as("n_agree_bit"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        col("n_agree_full"), col("n_agree_bit"),
        expr("n_agree_full * 1000000 div 128").as("est_full_ppm"),
        expr("(2 * n_agree_bit - 128) * 1000000 div 128")
          .as("est_bit_ppm"))
      .withColumn("gap_ppm", col("est_bit_ppm") - col("est_full_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  /** Tokenizer fertility per language — BPE-ish regex tokens per
    * whitespace word and chars per token, the pair of numbers that
    * sizes a token budget across languages (fertility > 1e6 means
    * the tokenizer fragments that language's words — its documents
    * cost more sequence length per word of content). Pure combine
    * rollup of the q_token_count_bpe per-doc signals to the |langs|
    * grid in truncating ppm.
    *
    * Scale shape: token counting is scan-side; ONE combine to the
    * |langs| grid; ratios are grid projections. */
  def tokenizerFertility(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("ws"),
        size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))
          .cast("long").as("re"),
        col("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("ws").cast("decimal(38,0)")).cast("long").as("n_ws_tokens"),
        sum(col("re").cast("decimal(38,0)")).cast("long").as("n_re_tokens"),
        sum(col("n_chars").cast("decimal(38,0)")).cast("long")
          .as("sum_chars"))
      .select(col("lang"), col("n_docs"), col("n_ws_tokens"),
        col("n_re_tokens"),
        expr("""cast(cast(n_re_tokens as decimal(38,0)) * 1000000
          div n_ws_tokens as bigint)""").as("fertility_ppm"),
        expr("""cast(cast(sum_chars as decimal(38,0)) * 1000000
          div n_re_tokens as bigint)""").as("chars_per_token_ppm"))
      .orderBy("lang")

  /** Corpus vocabulary heavy-hitters: global top-30 tokens by
    * occurrence count with document frequency — the frequency table a
    * tokenizer/stopword/BPE pass starts from. Explode → combine-heavy
    * groupBy (map-side partials collapse each partition to its
    * distinct tokens — the shuffle carries vocabulary, not corpus) →
    * tiny global top-k. At 100 TB the exact version stays viable
    * precisely because natural-language vocabulary plateaus; for
    * unbounded key domains the count-min/topk sketch replaces it. */
  /** Unigram log-frequency rarity score — the deterministic,
    * cross-engine-exact stand-in for an LM-perplexity quality filter
    * (CCNet-style): documents dominated by corpus-rare tokens score
    * low, boilerplate scores high. Per token the log-probability
    * proxy is the EXACT integer log2 of its corpus frequency
    * (length(bin(freq)) = bitlength — no floating log, so the score
    * hash-matches DuckDB bit-for-bit, where a real ln()-based
    * perplexity cannot be made engine-portable). Integer arithmetic
    * end to end; the mean is scaled to ppm with integer div. Scale
    * shape: the frequency frame rides the vocabulary shuffle (same
    * as TF-IDF's df) and scoring joins tokens back on the vocabulary
    * — the vocab frame is O(terms), never O(corpus). */
  def tokenRarity(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.spread(s, t(s, dir, "documents"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val freq = toks.groupBy("token").agg(count(lit(1)).as("freq"))
    toks.join(freq, "token")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(length(bin(col("freq")))).cast("long").as("sum_log2f"))
      .select(col("doc_id"), col("n_tokens"), col("sum_log2f"),
        expr("sum_log2f * 1000000 div n_tokens").as("mean_log2f_ppm"))
      .orderBy("doc_id")
  }

  def vocabTopk(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(30)

  /** Bigram conditional log-probability score — q_token_rarity's
    * order-2 sibling and the closest engine-exact stand-in for an
    * n-gram-LM perplexity filter: per bigram the proxy for
    * log2 P(w2 | w1) is bitlength(count(w1 w2)) − bitlength(count(w1
    * as context)) — exact integers via length(bin(x)), never a
    * floating log — summed per document with an integer-div ppm
    * mean (negative; integer div truncates toward zero identically
    * in both engines). Fluent text (frequent continuations) scores
    * near 0, incoherent text deeply negative. Scale shape: both
    * count frames ride bigram/unigram VOCABULARY shuffles (the same
    * plateau argument as vocabTopk; count-min is the documented
    * unbounded-domain fallback), scoring joins the bigram stream
    * back on those vocabularies. */
  def bigramLm(s: SparkSession, dir: String): DataFrame = {
    val bg = Tables.spread(s, t(s, dir, "documents"))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks) - 1), i -> struct(
          |  element_at(toks, i) AS w1,
          |  concat(element_at(toks, i), ' ',
          |         element_at(toks, i + 1)) AS bgr))""".stripMargin)).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.bgr").as("bgr"))
    val bgc = bg.groupBy(col("bgr")).agg(count(lit(1)).as("bc"))
    val ugc = bg.groupBy(col("w1")).agg(count(lit(1)).as("uc"))
    bg.join(bgc, "bgr").join(ugc, "w1")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum(length(bin(col("bc"))) - length(bin(col("uc"))))
          .cast("long").as("sum_dlog2"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_dlog2"),
        expr("sum_dlog2 * 1000000 div n_bigrams").as("mean_dlog2_ppm"))
      .orderBy("doc_id")
  }

  /** One BPE-trainer merge iteration at corpus scale: the adjacent
    * character-pair counts that pick the next merge rule. The
    * corpus-sized pass collapses to the word-frequency vocabulary
    * FIRST (the shuffle carries vocabulary, not corpus — the same
    * plateau argument as vocabTopk), then pair extraction runs over
    * the bounded vocab weighted by word frequency — exactly how
    * production BPE trainers split the work: one distributed corpus
    * pass, then the merge loop iterates on the tiny vocab
    * (BpeTrainSpec runs that loop driver-side and checks its first
    * merge equals this query's top pair). Top-20 merge candidates,
    * ties to the lexicographically smaller pair. */
  def bpePairCounts(s: SparkSession, dir: String): DataFrame = {
    val wf = tokenized(s, dir)
      .select(explode(col("toks")).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    wf.select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"),
        col("freq"))
      .groupBy(col("pair"))
      .agg(sum(col("freq")).cast("long").as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(20)
  }

  /** Count-min-sketch frequency estimation: the bounded-state
    * replacement for exact vocabulary counting when the key domain is
    * unbounded (vocabTopk's documented scale limit). Four counter rows
    * of width 1024; per-token cells come from universal hashes
    * (a_i·h + b_i mod 2^31−1 mod w) derived arithmetically from ONE
    * portable hash per token — both engines build the identical
    * sketch. The sketch build is a ≤4096-key combine shuffle no matter
    * the corpus (the 100 TB point); estimates for the top-20 true
    * tokens are read back with the standard min-over-rows rule, and
    * the output carries est − exact so the one-sided overestimate
    * guarantee is visible (CountMinSpec asserts it). */
  def countminFreq(s: SparkSession, dir: String): DataFrame = {
    val p = 2147483647L
    val w = 1024
    val as = Seq(3L, 5L, 7L, 11L)
    val bs = Seq(13L, 17L, 19L, 23L)
    val vocab = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .withColumn("h",
        pmod(expr(PortableHashes.hashSql("concat('cm:', token)")), lit(p)))
    val cells = vocab.select(col("token"), col("cnt"), col("h"),
      posexplode(array((0 until 4).map(i =>
        pmod(lit(as(i)) * col("h") + lit(bs(i)), lit(p)) % w): _*))
        .as(Seq("row_i", "cell")))
    val sketch = cells.groupBy(col("row_i"), col("cell"))
      .agg(sum(col("cnt")).as("counter"))
    val probes = vocab
      .orderBy(col("cnt").desc, col("token")).limit(20)
      .select(col("token"), col("cnt").as("exact_cnt"), col("h"))
    val probeCells = probes.select(col("token"), col("exact_cnt"),
      posexplode(array((0 until 4).map(i =>
        pmod(lit(as(i)) * col("h") + lit(bs(i)), lit(p)) % w): _*))
        .as(Seq("row_i", "cell")))
    probeCells.join(sketch, Seq("row_i", "cell"))
      .groupBy(col("token"), col("exact_cnt"))
      .agg(min(col("counter")).as("est_cnt"))
      .withColumn("overestimate", col("est_cnt") - col("exact_cnt"))
      .orderBy("token")
  }

  /** BM25 relevance scoring for a fixed query over the corpus — the
    * retrieval scorer a training-data search/dedup-adjacent pipeline
    * wants (Robertson/Sparck Jones; k1=1.2, b=0.75, the +1 idf
    * variant). Corpus stats (N, avgdl, per-term df) are tiny
    * aggregates broadcast against the scan; per-doc work is pure
    * column arithmetic. Scoring is one scan + one ≤3-row broadcast
    * join — no shuffle of the corpus. Every arithmetic step is the
    * same IEEE double expression in the DuckDB oracle (generic
    * irrational products — r6-safe per the verify playbook); output
    * orders by doc_id so no rank-on-double tie can differ. */
  def bm25Score(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "query", "window")
    val base = terms.zipWithIndex.foldLeft(
      tokenized(s, dir).select(col("doc_id"), col("toks"),
        size(col("toks")).cast("double").as("dl"))) {
      case (df, (t, i)) => df.withColumn(s"tf_$i",
        expr(s"cast(size(filter(toks, x -> x = '$t')) as double)"))
    }
    // corpus stats in ONE combine-enabled aggregate (never a global
    // window): N, avgdl, and per-term document frequencies — a 1-row
    // frame broadcast back against the scan
    val aggCols =
      count(lit(1)).cast("double").as("n_docs") +:
        avg(col("dl")).as("avgdl") +:
        terms.indices.map(i =>
          sum(when(col(s"tf_$i") > 0d, 1d).otherwise(0d)).as(s"df_$i"))
    val stats = base.agg(aggCols.head, aggCols.tail: _*)
    val scored = terms.indices.foldLeft(base.crossJoin(broadcast(stats))) {
      (df, i) =>
        df.withColumn(s"s_$i",
          log(lit(1.0) + (col("n_docs") - col(s"df_$i") + lit(0.5)) /
            (col(s"df_$i") + lit(0.5))) *
            (col(s"tf_$i") * lit(2.2)) /
            (col(s"tf_$i") + lit(1.2) *
              (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    }
    scored
      .withColumn("n_terms_matched",
        terms.indices.map(i => when(col(s"tf_$i") > 0d, 1L).otherwise(0L))
          .reduce(_ + _))
      .where(col("n_terms_matched") > 0)
      .select(col("doc_id"), col("n_terms_matched"),
        r6(terms.indices.map(i => col(s"s_$i")).reduce(_ + _)).as("bm25_r6"))
      .orderBy("doc_id")
  }

  /** Chunk-granularity BM25 retrieval — the RAG serving query: score
    * every 32-token chunk (q_doc_chunk's grid) against the bounded
    * query-term set and return the global top-10 passages. Same
    * one-combine-agg corpus-stats shape as q_bm25_score (N, avgdl,
    * dfs over CHUNKS in one 1-row broadcast frame; scoring is a
    * projection), and the top-k is orderBy+limit — Spark plans
    * TakeOrderedAndProject, a per-partition top-10 + tiny merge,
    * never a single-partition global window sort. Ranking compares
    * the ROUNDED score (r6 before rank, ties to (doc, chunk)) so
    * rank order is cross-engine deterministic even for identical
    * repeated passages. */
  def chunkBm25(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "query", "window")
    val chunks = tokenized(s, dir)
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("n"))
      .where(col("n") >= 1)
      .select(col("doc_id"),
        explode(expr("sequence(0L, (n + 23) div 24 - 1)")).as("chunk_id"),
        col("toks"))
      .select(col("doc_id"), col("chunk_id"),
        expr("slice(toks, cast(chunk_id * 24 + 1 as int), 32)").as("ctoks"))
      .withColumn("dl", size(col("ctoks")).cast("double"))
    val base = terms.zipWithIndex.foldLeft(chunks) {
      case (df, (t, i)) => df.withColumn(s"tf_$i",
        expr(s"cast(size(filter(ctoks, x -> x = '$t')) as double)"))
    }
    val aggCols =
      count(lit(1)).cast("double").as("n_chunks") +:
        avg(col("dl")).as("avgdl") +:
        terms.indices.map(i =>
          sum(when(col(s"tf_$i") > 0d, 1d).otherwise(0d)).as(s"df_$i"))
    val stats = base.agg(aggCols.head, aggCols.tail: _*)
    val scored = terms.indices.foldLeft(base.crossJoin(broadcast(stats))) {
      (df, i) =>
        df.withColumn(s"s_$i",
          log(lit(1.0) + (col("n_chunks") - col(s"df_$i") + lit(0.5)) /
            (col(s"df_$i") + lit(0.5))) *
            (col(s"tf_$i") * lit(2.2)) /
            (col(s"tf_$i") + lit(1.2) *
              (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    }
    scored
      .withColumn("n_terms_matched",
        terms.indices.map(i => when(col(s"tf_$i") > 0d, 1L).otherwise(0L))
          .reduce(_ + _))
      .where(col("n_terms_matched") > 0)
      .select(col("doc_id"), col("chunk_id"), col("n_terms_matched"),
        r6(terms.indices.map(i => col(s"s_$i")).reduce(_ + _)).as("bm25_r6"))
      .orderBy(col("bm25_r6").desc, col("doc_id"), col("chunk_id"))
      .limit(10)
  }

  /** TF-IDF document vectors, top-5 terms per doc — the sparse
    * representation a retrieval index or keyword extractor ingests.
    * Document frequencies ride the same vocabulary-sized combine
    * shuffle as vocabTopk (the shuffle carries (doc, token) pairs —
    * inherent to exact tf); weights are tf · ln(N/df), a generic
    * double both engines compute identically; ties (same tf, same df)
    * break on the token. */
  def tfidfTopterms(s: SparkSession, dir: String): DataFrame = {
    val tokens = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val tf = tokens.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token"))
      .agg(count(lit(1)).cast("double").as("df"))
    val nDocs = t(s, dir, "documents")
      .agg(count(lit(1)).cast("double").as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf_raw").desc, col("token"))
    tf.join(df, "token").crossJoin(broadcast(nDocs))
      .withColumn("tfidf_raw",
        col("tf").cast("double") * log(col("n_docs") / col("df")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"),
        r6(col("tfidf_raw")).as("tfidf"))
      .orderBy("doc_id", "rank")
  }

  /** Corpus drift detector: KL divergence of each language slice's
    * token distribution from the corpus-wide distribution, over the
    * global top-50 vocabulary (out-of-vocabulary mass excluded from
    * both sides — this is drift over the head, where shifts show
    * first). Per-token contributions p·ln(p/q) are generic doubles,
    * but their SUM over 50 terms is order-sensitive in the last ulp —
    * so each contribution ships as floor(c·1e9) micro-nats and the
    * aggregate is an exact BIGINT sum (order-free in both engines).
    * Shuffles carry vocabulary-sized frames only. */
  def corpusDrift(s: SparkSession, dir: String): DataFrame = {
    val tokens = t(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
    val top = tokens.groupBy(col("token"))
      .agg(count(lit(1)).as("gcnt"))
      .orderBy(col("gcnt").desc, col("token")).limit(50)
    val gTotal = top.agg(sum(col("gcnt")).as("gtot"))
    val slice = tokens.join(broadcast(top.select("token")), "token")
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("lcnt"))
    val lTotal = slice.groupBy(col("lang")).agg(sum(col("lcnt")).as("ltot"))
    slice
      .join(broadcast(top), "token")
      .join(broadcast(lTotal), "lang")
      .crossJoin(broadcast(gTotal))
      .withColumn("contrib_nano",
        floor((col("lcnt").cast("double") / col("ltot").cast("double")) *
          log((col("lcnt").cast("double") / col("ltot").cast("double")) /
            (col("gcnt").cast("double") / col("gtot").cast("double"))) *
          lit(1000000000.0)).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_head_terms"),
        sum(col("contrib_nano")).as("kl_nano"))
      .orderBy("lang")
  }

  /** Exact-substring span dedup report (the span-granular exact-dedup
    * signal of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499 — their suffix-array ExactSubstr
    * finds byte spans repeated across a corpus; suffix arrays are a
    * single-node structure, so at distributed scale the standard
    * reformulation is fixed-length rolling span hashes + one combine
    * count, which is what this computes): every 3-token span is hashed
    * (one sha per span via the codegen'd PortableHashes), spans whose
    * hash occurs more than once ANYWHERE (within or across docs) are
    * duplicated spans, and each doc reports its span count, duplicated
    * span count/share, and first duplicated offset — the trim signal a
    * curation pass consumes. Production uses ~50-token spans; 3 here
    * matches the corpus' vocabulary density so the signal is non-empty
    * at gate SF.
    *
    * Scale shape: scan + explode (no pre-shuffle), one combine count
    * keyed on the UNIFORM span hash, one join back on the same key,
    * one per-doc agg — every shuffle key is either uniform (hash) or
    * the natural doc key; nothing is all-pairs and no suffix array is
    * ever materialized. */
  def substringSpans(s: SparkSession, dir: String): DataFrame = {
    // posexplode_OUTER, not posexplode (r16): the inner Generate made
    // InferFiltersFromGenerate add `size(hs) > 0 AND isnotnull(hs)`
    // filters that predicate-pushdown rewrote in terms of the FULL
    // span-hash expression (one interpreted transform + one sha per
    // span, re-evaluated twice more per doc, codegen broken around
    // them) — measured 1.8 → 0.24 s on the exploded frame. OUTER
    // generates infer no such filter, and `toks >= 3` guarantees hs
    // is never null/empty, so the emitted rows are identical.
    val spans = tokenized(s, dir, spread = true)
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"),
        graft.functions.PortableHashes.hashes(expr(
          """transform(sequence(1, size(toks) - 2),
            |  i -> concat_ws(' ', slice(toks, i, 3)))""".stripMargin)).as("hs"))
      .select(col("doc_id"), posexplode_outer(col("hs")).as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("h"))
    // occurrence count as an UNORDERED window over the uniform hash —
    // one shuffle on h carrying (doc, pos) along, where the
    // groupBy-count + join-back formulation re-shuffles the span set a
    // third time (benched ~2x slower at sf0.1)
    spans
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_spans"),
        coalesce(min(when(col("n_occ") > 1, col("pos"))), lit(-1L))
          .as("first_dup_pos"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        col("first_dup_pos"),
        expr("1000000 * cast(n_dup_spans as decimal(38,0)) div n_spans").as("dup_ppm"))
      .orderBy("doc_id")
  }

  /** Pointwise mutual information over co-occurring head-vocabulary
    * token pairs — the association-mining pass behind collocation
    * extraction and word-vector co-occurrence matrices. The pair space
    * is bounded FIRST (top-50 corpus vocabulary, the q_corpus_drift
    * head), then document-level presence pairs are counted and PMI is
    * proxied in exact integer bits: bitlength(n_xy·N) −
    * bitlength(n_x·n_y) ≈ log2(P(x,y)/(P(x)P(y))) — the q_bigram_lm
    * trick, bit-for-bit reproducible where a floating ln() could
    * accumulate apart.
    *
    * Scale shape: the corpus collapses to DISTINCT (doc, head-token)
    * presence rows against a broadcast 50-row vocabulary; the pair
    * self-join keys on doc_id with per-doc expansion capped at
    * C(50,2); pair counts ride a vocabulary²-bounded combine shuffle.
    * Nothing scales with corpus size except the initial scan. */
  def pmiCooccur(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tokens = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("token"))
    val top = tokens.groupBy(col("token")).agg(count(lit(1)).as("gcnt"))
      .orderBy(col("gcnt").desc, col("token")).limit(50)
    val dt = tokens.join(broadcast(top.select("token")), "token")
      .select("doc_id", "token").distinct()
    val nx = dt.groupBy(col("token")).agg(count(lit(1)).as("n_x"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    dt.select(col("doc_id"), col("token").as("token_a"))
      .join(dt.select(col("doc_id"), col("token").as("token_b")), "doc_id")
      .where(col("token_a") < col("token_b"))
      .groupBy(col("token_a"), col("token_b")).agg(count(lit(1)).as("n_xy"))
      .join(broadcast(nx.select(col("token").as("token_a"),
        col("n_x").as("n_a"))), "token_a")
      .join(broadcast(nx.select(col("token").as("token_b"),
        col("n_x").as("n_b"))), "token_b")
      .crossJoin(broadcast(nDocs))
      .select(col("token_a"), col("token_b"), col("n_xy"), col("n_a"),
        col("n_b"),
        (length(expr("bin(n_xy * n_docs)")) - length(expr("bin(n_a * n_b)")))
          .cast("long").as("pmi_bits"))
      .orderBy(col("n_xy").desc, col("token_a"), col("token_b"))
      .limit(100)
  }

  /** Heuristic-filter battery report (the C4/Gopher-style rule sheet a
    * curation run publishes): each drop rule — too short, repetitive
    * 2-grams (q_repetition_filter's exact signal), low type-token
    * ratio, no stopwords — reports how many documents it flags and
    * its corpus share, plus the union row ('any') that says what the
    * whole battery would drop. Rules are exact-integer ppm
    * thresholds, so the report hash-checks.
    *
    * Scale shape: the signals are ONE scan-side projection (no
    * shuffle), the battery collapses to a single 1-row aggregate, and
    * the per-rule explode runs on that one row — the cheapest possible
    * shape for a corpus-wide report. */
  def filterBattery(s: SparkSession, dir: String): DataFrame = {
    val sigs = tokenized(s, dir)
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("n_toks"),
        size(array_distinct(col("toks"))).cast("long").as("n_dist"),
        expr("cast(size(filter(toks, x -> x in ('a','the','of','and','in'))) as bigint)")
          .as("n_stop"),
        expr(
          """case when size(toks) >= 2 then cast(floor(1e6 *
            |  (size(toks) - 1 - size(array_distinct(transform(
            |     sequence(1, size(toks) - 1),
            |     i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))))))
            |  / (size(toks) - 1)) as bigint)
            |else cast(0 as bigint) end""".stripMargin).as("rep_ppm"))
      .select(
        (col("n_toks") < 10L).as("r_short"),
        (col("rep_ppm") >= 100000L).as("r_repetitive"),
        (expr("1000000 * n_dist div n_toks") < 300000L).as("r_low_ttr"),
        (col("n_stop") === 0L).as("r_no_stopwords"))
    def flagged(c: String) = sum(when(col(c), 1L).otherwise(0L)).as(s"c_$c")
    val one = sigs.agg(count(lit(1)).as("n_docs"),
      flagged("r_short"), flagged("r_repetitive"),
      flagged("r_low_ttr"), flagged("r_no_stopwords"),
      sum(when(col("r_short") || col("r_repetitive") ||
        col("r_low_ttr") || col("r_no_stopwords"), 1L).otherwise(0L)).as("c_any"))
    val entries = Seq(
      "any" -> "c_any", "r_low_ttr" -> "c_r_low_ttr",
      "r_no_stopwords" -> "c_r_no_stopwords",
      "r_repetitive" -> "c_r_repetitive", "r_short" -> "c_r_short"
    ).map { case (r, c) =>
      s"""struct('$r' as rule, $c as n_flagged, n_docs,
         |  1000000 * cast($c as decimal(38,0)) div n_docs as share_ppm)""".stripMargin
    }
    one.select(explode(array(entries.map(expr): _*)).as("e"))
      .select(col("e.*")).orderBy("rule")
  }

  /** Per-document token Shannon entropy — the information-density
    * quality signal (low entropy flags repeated-token spam and
    * boilerplate that length or TTR rules miss; production pipelines
    * pair it with the perplexity filter). H = Σ p·ln(1/p) over the
    * doc's token distribution; each distinct token's contribution is
    * quantized to floor(x·1e9) nano-nats BEFORE the sum (the
    * q_corpus_drift discipline), so the per-doc total is an exact
    * order-free BIGINT both engines agree on — contributions are all
    * ≥ 0 since c ≤ n. Also emits type count and token count so the
    * report doubles as a TTR input.
    *
    * Scale shape: one (doc, token) combine-enabled shuffle (key
    * cardinality = per-doc vocabulary), then the doc-keyed window +
    * agg ride the doc partitioning; output is one row per doc.
    * Nothing global, nothing all-pairs. */
  def docEntropy(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
    tokenized(s, dir)
      .select(col("doc_id"), explode(col("toks")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
      .withColumn("n_tokens", sum(col("c")).over(w).cast("long"))
      .withColumn("n_types", count(lit(1)).over(w))
      .withColumn("contrib_nano",
        floor((col("c").cast("double") / col("n_tokens").cast("double")) *
          log(col("n_tokens").cast("double") / col("c").cast("double")) *
          lit(1000000000.0)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        max(col("n_types")).as("n_types"),
        sum(col("contrib_nano")).as("entropy_nano"))
      .orderBy("doc_id")
  }

  /** CCNet-style cross-domain perplexity filter (Wenzek et al. 2020):
    * train a Laplace-smoothed bigram LM on a REFERENCE slice (the
    * `lang = 'en'` documents — the "clean" domain), score EVERY
    * document's bigram cross-entropy under it, and emit the per-doc
    * mean negative log-likelihood — the signal production pipelines
    * threshold to drop out-of-domain and noisy text. Differs from
    * q_bigram_lm (self-scored, unsmoothed) exactly where it matters:
    * the model and the scored corpus are different populations, so
    * unseen bigrams MUST carry finite mass — Laplace (+1 on bigram
    * counts, +V on prefix counts) supplies it. Per-bigram cost
    * ln((uc+V)/(bc+1)) is a function of exact integer counts; it's
    * floored to micro-nats per occurrence (identical float sequence
    * both engines — the q_doc_entropy discipline) so per-doc sums are
    * exact BIGINTs; costs are provably ≥ 0 (bc ≤ uc and V ≥ 1).
    *
    * Scale shape: reference counts collapse to the bigram/unigram
    * vocabularies FIRST (combine shuffles carry vocab, not corpus —
    * the q_bpe_pair_counts plateau argument); V is a 1-row broadcast;
    * scoring joins key on the vocab hash (Heaps-law-bounded frames,
    * AQE picks broadcast vs shuffle); the final agg is doc-keyed. */
  def docPerplexity(s: SparkSession, dir: String): DataFrame =
    perDocNll(s, dir)
      .select(col("doc_id"), col("n_bigrams"), col("ce_micro"),
        col("avg_nll_micro"))
      .orderBy("doc_id")

  /** Per-doc (doc_id, lang, n_bigrams, ce_micro, avg_nll_micro) —
    * the q_doc_perplexity core with the lang label retained, shared
    * with the CCNet-style bucket assignment ([[ccnetBuckets]]). */
  private def perDocNll(s: SparkSession, dir: String): DataFrame = {
    // (Deliberately NOT pinned, and the reference-vocabulary count
    // kept as its own countDistinct branch: both a localCheckpoint of
    // this corpus-sized string frame and a derive-V-from-uc rewrite
    // were measured SLOWER at sf0.1 than the cheap parallel explode
    // re-derivations they save — see OPTIMIZATION_r15.md.)
    val bg = Tables.spread(s, t(s, dir, "documents"))
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        """transform(sequence(1, size(toks) - 1), i -> struct(
          |  element_at(toks, i) AS w1,
          |  concat(element_at(toks, i), ' ',
          |         element_at(toks, i + 1)) AS bgr))""".stripMargin)).as("p"))
      .select(col("doc_id"), col("lang"),
        col("p.w1").as("w1"), col("p.bgr").as("bgr"))
    val ref = bg.where(col("lang") === "en")
    val bc = ref.groupBy(col("bgr")).agg(count(lit(1)).as("bc"))
    val uc = ref.groupBy(col("w1")).agg(count(lit(1)).as("uc"))
    val v = ref.agg(countDistinct(col("w1")).as("v"))
    bg.groupBy(col("doc_id"), col("lang"), col("w1"), col("bgr"))
      .agg(count(lit(1)).as("occ"))
      .join(bc, Seq("bgr"), "left").join(uc, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("cost_micro", floor(
        log((coalesce(col("uc"), lit(0L)) + col("v")).cast("double") /
            (coalesce(col("bc"), lit(0L)) + lit(1L)).cast("double")) *
        lit(1000000.0)).cast("long"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("occ")).cast("long").as("n_bigrams"),
        sum(col("occ") * col("cost_micro")).as("ce_micro"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("ce_micro"),
        expr("ce_micro div n_bigrams").as("avg_nll_micro"))
  }

  /** CCNet-style perplexity buckets (Wenzek et al. 2020 §3.3): per
    * language, documents are ranked by the bigram-LM negative
    * log-likelihood ([[docPerplexity]]'s exact-integer score) and
    * split into head / middle / tail terciles — head (lowest NLL ≈
    * most fluent) is what CCNet keeps for pretraining, tail is the
    * noise bucket. The tercile cut is the discrete rank rule
    * 3r ≤ n / 3r ≤ 2n (exact, no quantile sketch to coordinate);
    * emits per-(lang, bucket) doc counts, NLL range, and token mass
    * so the "what do we keep" budget decision reads off one grid.
    *
    * Scale shape: the per-doc score reuses the perplexity pipeline
    * (vocabulary-bounded shuffles); the per-lang rank is the
    * DISTRIBUTED two-phase domain-bucket rank ([[graft.ops
    * .TwoPhaseRank]] — the q_class_rebalance discipline): never a
    * corpus-sized window partitioned on the small |langs| key, every
    * exchange on the uniform (lang, bucket) grain, provably the same
    * rank (oracle unchanged); the rollup is a combine to the
    * |langs|×3 grid. */
  def ccnetBuckets(s: SparkSession, dir: String): DataFrame = {
    // The NLL domain is NARROW-BAND for the default monotoneBucket:
    // per-bigram costs are log-scale micro-units, so corpus averages
    // live inside one binary octave (~5–15e6) and bitlength+top-5-bits
    // collapses a language's whole frame into a handful of buckets —
    // caught by the structural spread guard at sf10 (205,900 rows in
    // 4 buckets). A fixed 2^11-µnll granularity is monotone, and the
    // OBSERVED per-lang spread — corpus averages concentrate, the
    // sf10 width is ~4e5 µnll, not the ~2e7 theoretical cost ceiling
    // — still yields ~190 buckets (2^14 left only 24, re-caught by
    // the guard); the theoretical ceiling bounds the grid at ≲10k
    // buckets per lang, so the offsets frame stays tiny either way.
    // pinned: the per-doc NLL frame is 5 narrow columns × |docs| —
    // tiny — and TwoPhaseRank references its input twice (the bucket
    // counts branch and the rank join branch); unpinned, each
    // reference re-derived the ENTIRE bigram-LM pipeline (the r15
    // plan scanned documents 16×; q_ccnet_buckets cost ~2.2× the
    // q_doc_perplexity core it wraps). This is the POST-aggregation
    // pin VERDICT r15 item 10 asked to retry — the r15-rejected pin
    // was the corpus-sized pre-aggregation string frame, not this.
    graft.ops.TwoPhaseRank.withRankAndCount(
        Tables.pin(perDocNll(s, dir)), Seq("lang"), "avg_nll_micro",
        Seq(col("doc_id")), "r", "n",
        bucketOverride = Some(expr("avg_nll_micro div 2048")))
      .withColumn("bucket",
        when(expr("r * 3 <= n"), lit("head"))
          .when(expr("r * 3 <= 2 * n"), lit("middle"))
          .otherwise(lit("tail")))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        min(col("avg_nll_micro")).as("min_nll_micro"),
        max(col("avg_nll_micro")).as("max_nll_micro"),
        sum(col("n_bigrams").cast("decimal(38,0)")).cast("long")
          .as("token_mass"))
      .orderBy("lang", "bucket")
  }

  /** Mutual-information feature selection — which cheap quality
    * signal carries the most information about the language label?
    * The pre-training question answered before spending on a
    * classifier: MI(label; feature) for three candidate
    * discretizations (char-length bin, token-count bin, stopword-
    * share bin), each a ≤ |langs|×10 contingency. Per-cell
    * contribution (c/N)·ln(cN/(c_x·c_y)) is floored to SIGNED
    * micro-nats per cell (fixed IEEE sequence over exact integer
    * inputs), so each feature's MI total is an exact BIGINT sum of
    * its cells.
    *
    * Scale shape: one scan-side 3× explode tags each doc with its
    * three (feature, bin) pairs; ONE combine agg collapses to the
    * ≤ 3×|langs|×10 cell grid; marginals and N are window sums over
    * the bounded grid frame (the q_event_heatmap pattern — the
    * single-partition window spans cells, never the corpus); final
    * per-feature agg rides the grid. */
  def featureMi(s: SparkSession, dir: String): DataFrame = {
    val cells = tokenized(s, dir)
      .select(col("lang"), col("n_chars"),
        size(col("toks")).cast("long").as("ntoks"),
        size(expr("filter(toks, x -> x IN ('a','the','of','and','in'))"))
          .cast("long").as("nstop"))
      .select(col("lang"), explode(array(
        struct(lit("len_bin").as("feature"),
          least(expr("n_chars div 200"), lit(9L)).as("bin")),
        struct(lit("tok_bin").as("feature"),
          least(expr("ntoks div 40"), lit(9L)).as("bin")),
        struct(lit("stop_bin").as("feature"),
          least(expr("(10 * nstop) div greatest(ntoks, 1)"), lit(9L))
            .as("bin")))).as("f"))
      .select(col("lang"), col("f.feature").as("feature"), col("f.bin").as("bin"))
      .groupBy(col("feature"), col("lang"), col("bin"))
      .agg(count(lit(1)).as("c"))
    cells
      .withColumn("cx", sum(col("c")).over(
        Window.partitionBy(col("feature"), col("lang"))))
      .withColumn("cy", sum(col("c")).over(
        Window.partitionBy(col("feature"), col("bin"))))
      .withColumn("nn", sum(col("c")).over(
        Window.partitionBy(col("feature"))))
      .withColumn("contrib_micro", floor(
        (col("c").cast("double") / col("nn").cast("double")) *
        log((col("c").cast("double") * col("nn").cast("double")) /
            (col("cx").cast("double") * col("cy").cast("double"))) *
        lit(1000000.0)).cast("long"))
      .groupBy(col("feature"))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("contrib_micro")).as("mi_micro"))
      .orderBy("feature")
  }

  /** LSH band-geometry tuning eval — the S-curve calibration a
    * deployment runs before choosing (bands, rows/band): over the
    * 8-band candidate pairs, measure for each geometry (8×1, 4×2,
    * 2×4 over the SAME first 8 minhash values) how many pairs would
    * still collide, against the theoretical collision probability
    * 1 − (1 − j^r)^b at each pair's EXACT Jaccard. More rows per
    * band = sharper S-curve = fewer borderline collisions; the
    * report quantifies that trade on the corpus itself (measured
    * collide_ppm vs summed expected probability), which is how the
    * q_minhash_dedup / q_dedup_incremental band thresholds get
    * chosen. The probability is computed with EXPLICIT multiply
    * trees (j², j⁴ = j²·j², q⁸ = q⁴·q⁴ …) — a fixed IEEE op
    * sequence both engines execute identically, where a pow() call
    * could diverge by an ulp — then floored to per-pair micro-units
    * so the expectation sum is an exact BIGINT. Note the
    * conditioning: measured rates are over the candidate set (pairs
    * with ≥ 1 band hit), so b8_r1 reads 100% by construction while
    * its unconditional expectation is far lower — exactly the
    * single-band-coincidence saturation that makes the ≥ 2-band
    * threshold necessary (observed sf0.1: 54k candidates, 10.1%
    * survive 4×2, 3.7% survive 2×4).
    *
    * Scale shape: candidates from the usual band equi-join (never
    * all-pairs); per-pair work is 8 integer comparisons + a fixed
    * float expression; the report is ONE 1-row aggregate exploded to
    * 3 geometry rows. div greatest(n,1) guards an empty candidate
    * set. */
  def lshTuning(s: SparkSession, dir: String): DataFrame = {
    val base = shingled(s, dir)
      .select(col("doc_id"), array_distinct(
        graft.functions.PortableHashes.hashes(
          col("shingles"), 2147483647L)).as("hset"))
      .select(col("doc_id"), col("hset"),
        graft.functions.MinhashSigs.sigs(col("hset"), 8).as("mh"))
    val banded = base.select(col("doc_id"), col("hset"), col("mh"),
      explode(expr(
        """transform(sequence(0, 7), b -> struct(
          |  b AS band, element_at(mh, b + 1) AS sig))""".stripMargin)).as("bs"))
      .select(col("doc_id"), col("hset"), col("mh"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))
    def bandEq(b0: Int, r: Int): String =
      (1 to r).map(i => s"element_at(mh_a, ${b0 * r + i}) = element_at(mh_b, ${b0 * r + i})")
        .mkString("(", " AND ", ")")
    def collide(b: Int, r: Int): String =
      (0 until b).map(bandEq(_, r)).mkString(" OR ")
    val pairs = banded.select(col("band"), col("sig"),
        col("doc_id").as("doc_a"), col("hset").as("set_a"), col("mh").as("mh_a"))
      .join(banded.select(col("band"), col("sig"),
        col("doc_id").as("doc_b"), col("hset").as("set_b"), col("mh").as("mh_b")),
        Seq("band", "sig"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("mh_a"), col("mh_b"),
        col("set_a"), col("set_b"))
      .distinct()
      .withColumn("j",
        size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          size(array_union(col("set_a"), col("set_b"))).cast("double"))
    val j = col("j")
    val j2 = j * j
    val j4 = j2 * j2
    val q1 = lit(1.0) - j
    val q1_2 = q1 * q1; val q1_4 = q1_2 * q1_2; val q1_8 = q1_4 * q1_4
    val qa = lit(1.0) - j2
    val qa2 = qa * qa; val qa4 = qa2 * qa2
    val qb = lit(1.0) - j4
    val qb2 = qb * qb
    def expU(p: Column): Column =
      sum(floor(p * lit(1000000.0)).cast("long"))
    pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(when(expr(collide(8, 1)), 1L).otherwise(0L)).as("c81"),
        sum(when(expr(collide(4, 2)), 1L).otherwise(0L)).as("c42"),
        sum(when(expr(collide(2, 4)), 1L).otherwise(0L)).as("c24"),
        expU(lit(1.0) - q1_8).as("e81"),
        expU(lit(1.0) - qa4).as("e42"),
        expU(lit(1.0) - qb2).as("e24"))
      .selectExpr(
        """stack(3,
          |  'b8_r1', n_pairs, c81,
          |  cast(1000000 * cast(c81 as decimal(38,0)) div greatest(n_pairs, 1) as bigint), e81,
          |  'b4_r2', n_pairs, c42,
          |  cast(1000000 * cast(c42 as decimal(38,0)) div greatest(n_pairs, 1) as bigint), e42,
          |  'b2_r4', n_pairs, c24,
          |  cast(1000000 * cast(c24 as decimal(38,0)) div greatest(n_pairs, 1) as bigint), e24)
          |  as (geometry, n_pairs, n_collide, collide_ppm, expected_collide_u)""".stripMargin)
      .orderBy("geometry")
  }

  /** Exact-substring span TRIM — the apply-step of q_substring_spans'
    * report (Lee et al. ExactSubstr removes the duplicated spans, not
    * the documents): every token covered by ANY duplicated 3-token
    * span is dropped, and each doc emits its surviving-token count,
    * kept share, and the portable hash of the trimmed text — the
    * content a downstream pretraining shard would actually store.
    * Surviving tokens keep their original order (Spark: array_sort
    * over (idx, token) structs collected per doc; DuckDB: ORDER BY
    * inside the list aggregate — same sequence both ways), so the
    * trimmed hash is engine-exact.
    *
    * Scale shape: the span-hash occurrence count is the same ONE
    * unordered-window shuffle on the uniform hash as the report
    * query; coverage explodes ≤ 3 indices per duplicated span and
    * distincts on (doc, idx); the token join and final agg are
    * doc-keyed. Per-doc collect_list is bounded by document length —
    * the same bounded-group contract as q_string_agg. */
  def spanTrim(s: SparkSession, dir: String): DataFrame = {
    val base = tokenized(s, dir, spread = true)
      .where(size(col("toks")) >= 3)
    // posexplode_OUTER for the same reason as q_substring_spans (the
    // inferred inner-Generate filters re-ran the whole span-hash
    // expression twice per doc); `toks >= 3` in `base` guarantees hs
    // is never null/empty, so rows are identical.
    val spans = base
      .select(col("doc_id"),
        graft.functions.PortableHashes.hashes(expr(
          """transform(sequence(1, size(toks) - 2),
            |  i -> concat_ws(' ', slice(toks, i, 3)))""".stripMargin)).as("hs"))
      .select(col("doc_id"), posexplode_outer(col("hs")).as(Seq("pos0", "h")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("h"))
    // Packed per-doc coverage (VERDICT r15 item 5): the old form
    // exploded every duplicated span to 3 (doc, idx) rows, paid a
    // distinct exchange on (doc, idx), re-exploded EVERY token to a
    // (doc, idx, token) row, shuffle-joined the two corpus-sized
    // frames, and re-assembled each doc with a collect_list +
    // array_sort of (idx, token) structs. The coverage decision is
    // per-doc and index-valued, so it can travel PACKED: one doc-keyed
    // combine folds each doc's duplicated spans into a distinct sorted
    // index array (bounded by doc length), one doc-keyed join attaches
    // it to the un-exploded token array, and the surviving tokens are
    // array_except(1..n, cov) mapped through element_at — original
    // order preserved by construction (array_except keeps the first
    // array's order), so trimmed/counts are row-identical. Plan: the
    // (doc, idx) distinct exchange, the token-explode join and the
    // struct re-sort are gone; the only corpus-scaled shuffles left
    // are the span-hash window and the doc-keyed coverage combine.
    val covSets = spans
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy(col("h"))))
      .where(col("n_occ") > 1)
      .select(col("doc_id"), col("pos").cast("int").as("p"))
      .groupBy(col("doc_id"))
      .agg(array_sort(array_distinct(flatten(collect_list(
        array(col("p"), col("p") + 1, col("p") + 2))))).as("cov"))
    base.join(covSets, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(col("cov"), expr("array()")).as("cov"),
        col("toks"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("cov")).cast("long").as("n_covered"),
        expr("""concat_ws(' ', transform(
          |  array_except(sequence(1, cast(size(toks) as int)), cov),
          |  i -> element_at(toks, i)))""".stripMargin).as("trimmed"))
      .select(col("doc_id"), col("n_tokens"), col("n_covered"),
        expr("1000000 * cast(n_tokens - n_covered as decimal(38,0)) div n_tokens")
          .cast("long").as("keep_ppm"),
        expr(PortableHashes.hashSql("trimmed")).as("trimmed_hash"))
      .orderBy("doc_id")
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every doc
    * by how much its hashed n-gram feature distribution looks like a
    * TARGET domain (here lang = 'en') vs the raw corpus — the
    * selection signal for resampling a 100 TB crawl toward a target
    * mix. Features are unigram + bigram occurrences hashed into 1024
    * buckets (one codegen'd sha per gram — explode + row hash, never
    * a HOF fold); per-bucket weight is the Laplace-smoothed
    * log-likelihood ratio log2(p_target/p_raw) in EXACT integer bits
    * (the q_pmi_cooccur bitlength trick: bitlength of the 1e6-scaled
    * HUGEINT/DECIMAL(38,0) ratio, 1e6 → 20 bits → weight 0); per-doc
    * score = sum of its occurrences' bit-weights.
    *
    * Scale shape: bucket counts are two ≤1024-key combine shuffles;
    * the weight table (≤1024 rows) and the 1-row totals broadcast
    * back onto the feature stream; the per-doc sum is one doc-keyed
    * combine agg. Nothing all-pairs, nothing vocabulary-unbounded. */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val grams = tokenized(s, dir, spread = true)
      .select(col("doc_id"), col("lang"), explode(expr(
        """concat(toks,
          |  case when size(toks) >= 2 then
          |    transform(sequence(1, size(toks) - 1),
          |      i -> concat(element_at(toks, i), ' ',
          |                  element_at(toks, i + 1)))
          |  else cast(array() as array<string>) end)""".stripMargin)).as("g"))
    // pinned: the hashed feature stream is consumed twice (bucket
    // counts, per-doc scoring) and multi-referenced subplans
    // re-execute — unpinned, the gram explode + sha re-derives per
    // reference
    val fb = Tables.pin(grams.select(col("doc_id"), col("lang"),
      expr(s"${PortableHashes.hashSql("g")} % 1024").as("b")))
    // target and raw bucket counts in ONE combine pass (the target
    // count is a conditional sum riding the same ≤1024-key shuffle);
    // the nt/nr totals are then sums of the ≤1024-row count frame —
    // the old separate tc/rc/tot formulation scanned the feature
    // stream three times for numbers derivable from one grid
    val bcnt = fb.groupBy(col("b")).agg(
      count(lit(1)).as("cr"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
    val tot = bcnt.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val w = bcnt.crossJoin(broadcast(tot))
      .select(col("b"), (expr(
        """length(bin(greatest(cast(
          |  (1000000 * cast(coalesce(ct, 0) + 1 as decimal(38,0))
          |     * cast(nr + 1024 as decimal(38,0)))
          |  div (cast(cr + 1 as decimal(38,0))
          |     * cast(nt + 1024 as decimal(38,0)))
          |  as bigint), 1)))""".stripMargin).cast("long") - 20L).as("wbits"))
    val perDoc = fb.join(broadcast(w), "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_feats"), sum(col("wbits")).as("score_bits"))
    // selection = above corpus-average score DENSITY (bits/feature):
    // integer log2 carries a constant per-feature bias, so the
    // resampling cut is relative, not absolute — cross-multiplied in
    // decimals (both multipliers positive, so the inequality holds)
    val g = perDoc.agg(sum(col("score_bits")).as("g_bits"),
      sum(col("n_feats")).as("g_feats"))
    perDoc.crossJoin(broadcast(g))
      .select(col("doc_id"), col("lang"), col("n_feats"), col("score_bits"),
        (col("score_bits").cast("decimal(38,0)") * col("g_feats")
          > col("n_feats").cast("decimal(38,0)") * col("g_bits"))
          .cast("long").as("sel"))
      .orderBy("doc_id")
  }

  /** Token-frequency Gini concentration per language — the corpus-
    * diversity audit behind data-mix decisions: a high Gini means a
    * few tokens carry most of the mass (template/boilerplate-heavy
    * slice), a low one means a flat, diverse vocabulary. Uses the
    * classic rank formula G = Σ(2i−n−1)·c_i / (n·Σc_i) over counts
    * ranked ascending — provably independent of how ties order (equal
    * counts swap rank coefficients without changing the sum), so one
    * deterministic (count, token) rank is engine-exact. All integer:
    * DECIMAL(38,0)/HUGEINT products cast wide BEFORE the multiply,
    * truncating ppm division; the top-1 token share rides along as
    * the quick skew headline.
    *
    * Scale shape: explode → map-side-combined (lang, token) count —
    * the only corpus-sized shuffle, and it collapses to the
    * Heaps-bounded vocabulary; the rank window then sorts VOCAB rows
    * (not corpus rows) per lang, one combine agg, ≤ langs output
    * rows. */
  def giniToken(s: SparkSession, dir: String): DataFrame = {
    val counts = tokenized(s, dir)
      .select(col("lang"), explode(col("toks")).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("lang")).orderBy(col("c"), col("token"))
    counts
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
      .groupBy(col("lang"))
      .agg(max(col("n")).as("n_tokens"),
        sum(col("c")).as("n_occurrences"),
        sum(expr("cast(2 * i - n - 1 as decimal(38,0)) * c")).as("num"),
        max(col("c")).as("cmax"))
      .select(col("lang"), col("n_tokens"), col("n_occurrences"),
        expr("""cast(num * 1000000 div
                (cast(n_tokens as decimal(38,0)) * n_occurrences) as bigint)""")
          .as("gini_ppm"),
        expr("cast(cast(cmax as decimal(38,0)) * 1000000 div n_occurrences as bigint)")
          .as("top_share_ppm"))
      .orderBy("lang")
  }

  /** Chi-square independence audit of the lang × source contingency —
    * the classic "is this metadata column informative?" test beside
    * q_feature_mi's information-theoretic one: per language the
    * partial chi-square Σ_cells (o·N − r·c)²·1e6 / (r·c·N) (the exact
    * integer rearrangement of (o−e)²/e in ppm), plus the source
    * contributing most. A uniform corpus scores ~0; a lang whose docs
    * concentrate in one source scores high — the skew flag for mix
    * rebalancing. All products cast wide BEFORE multiplying; the
    * floored cells are identical integers in both engines.
    *
    * Scale shape: ONE map-side-combined (lang, source) count — the
    * only corpus-sized move; marginals are windows over the bounded
    * ≤ |langs|·|sources| grid (q_event_heatmap pattern), final agg
    * ≤ |langs| rows. The d² product peaks at ~N⁴/k²: past ~10⁹ docs
    * route the grid (it is TINY) through a driver-side BigInt pass —
    * the distributed part of this operator is only the count. */
  def chi2Independence(s: SparkSession, dir: String): DataFrame = {
    val grid = t(s, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("o"))
    grid
      .withColumn("r", sum(col("o")).over(Window.partitionBy(col("lang"))))
      .withColumn("c", sum(col("o")).over(Window.partitionBy(col("source"))))
      .withColumn("n", sum(col("o")).over())
      .withColumn("d", expr(
        "cast(o as decimal(38,0)) * n - cast(r as decimal(38,0)) * c"))
      .withColumn("cell_ppm", expr(
        """cast(d * d * 1000000 div
          |(cast(r as decimal(38,0)) * c * n) as bigint)""".stripMargin))
      .withColumn("cmax", max(col("cell_ppm")).over(Window.partitionBy(col("lang"))))
      .groupBy(col("lang"))
      .agg(max(col("r")).cast("long").as("n_docs"),
        sum(col("cell_ppm")).cast("long").as("chi2_ppm"),
        min(when(col("cell_ppm") === col("cmax"), col("source"))).as("top_source"))
      .orderBy("lang")
  }

  /** Vocabulary-saturation (Heaps-law) curve — the "is more data still
    * buying vocabulary?" audit behind crawl-budget decisions: the
    * corpus is cut into 32 equal doc-id slices (ingest order) and each
    * word-3-gram TYPE is charged to the FIRST slice any document
    * containing it lands in (3-gram types, not unigrams — the unigram
    * vocabulary of a bounded-domain corpus saturates in slice 0 and
    * measures nothing); new-types-per-slice falling toward zero means
    * the source is mined out. Slice count is FIXED at 32, so the
    * cumulative window runs over 32 rows at any corpus size (the
    * bucket rule `doc_id·32 div (max+1)` keeps slices equal-width
    * without a global sort; max doc_id rides in on a 1-row stat
    * frame).
    *
    * Scale shape: explode → map-side-combined (gram → min slice) — the
    * one corpus-sized shuffle, collapsing to the Heaps-bounded type
    * space; the per-slice count and 32-row cumulative are free.
    * No single-partition pass ever sees more than 32 rows. */
  def vocabSaturation(s: SparkSession, dir: String): DataFrame = {
    val maxId = t(s, dir, "documents")
      .agg(max(col("doc_id")).as("max_id"))
    // types travel as the codegen'd portable 60-bit hash, not strings:
    // the min-slice shuffle carries 8-byte longs (4.1 s → ~1 s at
    // sf0.1); collisions are ~(types²/2^61) — none at any real SF, and
    // engine-identical either way since the oracle hashes the same
    val firstSlice = shingled(s, dir)
      .crossJoin(broadcast(maxId))
      .select(expr("doc_id * 32 div (max_id + 1)").as("slice"),
        explode(graft.functions.PortableHashes.hashes(col("shingles")))
          .as("token"))
      .groupBy(col("token"))
      .agg(min(col("slice")).as("first_slice"))
    firstSlice
      .groupBy(col("first_slice").as("slice"))
      .agg(count(lit(1)).as("new_types"))
      .withColumn("cum_types",
        sum(col("new_types")).over(
          Window.orderBy(col("slice"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("slice"), col("new_types"),
        col("cum_types").cast("long").as("cum_types"),
        expr("cast(new_types * 1000000 div cum_types as bigint)")
          .as("growth_ppm"))
      .orderBy("slice")
  }

  /** Per-document n-gram novelty — the memorization/freshness audit of
    * an ingest stream: for each doc, the share of its DISTINCT word
    * 3-grams never seen in any earlier document (doc_id = ingest
    * order). A run of low-novelty docs is a re-crawl or a template
    * flood; TRAINING value concentrates in the high-novelty tail.
    * First-seer is min(doc_id) per gram — engine-exact integers, and
    * `novel = (first_doc == doc_id)` needs no tie rule (a doc ties
    * only with itself).
    *
    * Scale shape: distinct (gram, doc) pairs — one shuffle on the
    * uniform gram hash; min-agg map-side-combines to the gram
    * vocabulary; the join back is gram-keyed (uniform); final combine
    * agg on doc_id. Nothing all-pairs, no skewed key (grams hash
    * uniformly), output = one row per doc. */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    // grams travel as the codegen'd portable 60-bit hash (see
    // vocabSaturation): distinct + first-seer + join-back all shuffle
    // 8-byte longs instead of ~30-byte gram strings
    val grams = shingled(s, dir)
      .select(col("doc_id"),
        explode(graft.functions.PortableHashes.hashes(col("shingles")))
          .as("gram"))
      .distinct()
    val firstDoc = grams.groupBy(col("gram"))
      .agg(min(col("doc_id")).as("first_doc"))
    grams.join(firstDoc, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"),
        col("n_novel").cast("long").as("n_novel"),
        expr("cast(n_novel * 1000000 div n_grams as bigint)")
          .as("novelty_ppm"))
      .orderBy("doc_id")
  }

  /** Cross-source 3-gram overlap — the corpus-comparison audit behind
    * "are these two crawls the same content?": per source pair, the
    * Jaccard of their 3-gram TYPE sets as an exact ppm ratio. High
    * overlap between nominally-distinct sources means double-counting
    * in the data mix (and double-weighting in training); zero-overlap
    * pairs don't appear (inner-join semantics, both engines). All
    * integer.
    *
    * Scale shape: ONE gram-keyed combine shuffle builds the sorted
    * source set per gram (collect_set dedups in the agg — no separate
    * DISTINCT pass; set size bounded by |sources|, so agg state is
    * bounded); ordered source pairs generate ARRAY-SIDE from the
    * sorted set — no gram self-join — then sizes and pairs each
    * combine to ≤ |sources|² rows (the ReusedExchange feeds both
    * branches). The quadratic is in the BOUNDED source space, never
    * in rows. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val gs = tokenized(s, dir, spread = true)
      .where(size(col("toks")) >= 3)
      .select(col("source"), explode(expr(
        """transform(sequence(1, size(toks) - 2),
          |  i -> concat(element_at(toks, i), ' ',
          |              element_at(toks, i + 1), ' ',
          |              element_at(toks, i + 2)))""".stripMargin)).as("gram"))
      .groupBy(col("gram"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
    val sizes = gs.select(explode(col("srcs")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_t"))
    gs.select(explode(expr(
        """flatten(transform(srcs, (a, i) ->
          |  transform(slice(srcs, i + 2, size(srcs) - i - 1),
          |    b -> struct(a AS src_a, b AS src_b))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.withColumnRenamed("source", "src_a")
        .withColumnRenamed("n_t", "n_a")), "src_a")
      .join(broadcast(sizes.withColumnRenamed("source", "src_b")
        .withColumnRenamed("n_t", "n_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        expr("""cast(cast(n_shared as decimal(38,0)) * 1000000
          div (n_a + n_b - n_shared) as bigint)""").as("jaccard_ppm"))
      .orderBy("src_a", "src_b")
  }

  /** Zipf-slope fit per language — the one-number summary of token
    * concentration (beside q_gini_token's rank formula): least-squares
    * slope of log2(count) on log2(rank) over the ranked vocabulary,
    * ENTIRELY in integers via bitlength as the exact integer log2
    * (length(bin(x)), both engines) — a natural corpus sits near −1;
    * a template-flooded slice goes steeper. The regression sums are
    * wide-cast integer products, the slope a single truncating ppm
    * division, the intercept derived from the already-truncated slope
    * — bit-identical cross-engine, no floating log anywhere.
    *
    * Scale shape: one combine shuffle collapses the corpus to (lang,
    * token) counts; the rank window sorts VOCAB rows per lang; the
    * regression is one combine agg to ≤ |langs| rows. */
  def zipfFit(s: SparkSession, dir: String): DataFrame = {
    val counts = tokenized(s, dir)
      .select(col("lang"), explode(col("toks")).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("c").desc, col("token"))
    counts
      .withColumn("r", row_number().over(w).cast("long"))
      .select(col("lang"),
        expr("cast(length(bin(r)) as bigint)").as("x"),
        expr("cast(length(bin(c)) as bigint)").as("y"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"))
      // n_types = 1 makes the slope denominator exactly 0 (sxx = sx²)
      // — a single-token-type language is unfittable, drop it (both
      // engines would otherwise divide by zero; ADVICE r7)
      .where(col("n_types") >= 2)
      .select(col("lang"), col("n_types"),
        expr("""cast((cast(n_types as decimal(38,0)) * sxy
            - cast(sx as decimal(38,0)) * sy) * 1000000
          div (cast(n_types as decimal(38,0)) * sxx
            - cast(sx as decimal(38,0)) * sx) as bigint)""")
          .as("slope_ppm"))
      .orderBy("lang")
  }

  /** Per-source redundancy ratio — the "dedup which source first"
    * number: of all 3-gram occurrences a source contributes, the share
    * that are REPEATS of a type already seen in that source
    * ((occurrences − types) / occurrences, exact truncating ppm), plus
    * the hottest gram's count. High redundancy = template/boilerplate
    * mill (dedup pays off immediately, compresses well); low = diverse
    * text. Complements q_source_overlap (BETWEEN-source duplication)
    * with the within-source number.
    *
    * Scale shape: grams travel as the codegen'd portable 60-bit hash;
    * ONE (source, gram) combine collapses the corpus to per-source
    * vocabularies; the rollup rides that bounded frame. */
  def repeatRatio(s: SparkSession, dir: String): DataFrame =
    tokenized(s, dir, spread = true)
      .where(size(col("toks")) >= 3)
      .select(col("source"), explode(
        graft.functions.PortableHashes.hashes(expr(
          """transform(sequence(1, size(toks) - 2),
            |  i -> concat(element_at(toks, i), ' ',
            |              element_at(toks, i + 1), ' ',
            |              element_at(toks, i + 2)))""".stripMargin)))
        .as("gram_h"))
      .groupBy(col("source"), col("gram_h"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("c").cast("decimal(38,0)")).cast("long").as("n_occurrences"),
        max(col("c")).as("max_gram_count"))
      .select(col("source"), col("n_types"), col("n_occurrences"),
        col("max_gram_count"),
        expr("""cast(cast(n_occurrences - n_types as decimal(38,0))
          * 1000000 div n_occurrences as bigint)""").as("redundancy_ppm"))
      .orderBy("source")

  /** (lang, gram_h) occurrence counts over the word-3-gram space —
    * the shared vocabulary frame for the richness/concentration pair
    * below. Grams travel as the codegen'd portable 60-bit hash (the
    * q_repeat_ratio discipline: shuffle longs, not strings); ONE
    * combine shuffle collapses the corpus to per-lang gram
    * vocabularies. The unigram space is useless for these metrics on
    * any corpus with a bounded word list — the gram space is where
    * richness lives. */
  private def langGramCounts(s: SparkSession, dir: String): DataFrame =
    tokenized(s, dir, spread = true)
      .where(size(col("toks")) >= 3)
      .select(col("lang"), explode(
        graft.functions.PortableHashes.hashes(expr(
          """transform(sequence(1, size(toks) - 2),
            |  i -> concat(element_at(toks, i), ' ',
            |              element_at(toks, i + 1), ' ',
            |              element_at(toks, i + 2)))""".stripMargin)))
        .as("gram_h"))
      .groupBy(col("lang"), col("gram_h"))
      .agg(count(lit(1)).as("c"))

  /** Hapax/dis-legomena profile per language over the 3-gram space —
    * the lexical-richness tail that decides how much NEW text a
    * language slice really brings (a high hapax share means the
    * corpus is still discovering its distribution; near-zero means
    * more data from this slice is mostly repetition — Heaps-law
    * saturation, the static complement of q_vocab_saturation's
    * growth curve). Exact truncating ppm shares of both the type
    * inventory and the occurrence mass.
    *
    * Scale shape: the shared gram-vocabulary combine + a ≤ |langs|
    * rollup — shuffles carry vocabularies, never the corpus. */
  def hapaxRatio(s: SparkSession, dir: String): DataFrame =
    langGramCounts(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("c").cast("decimal(38,0)")).cast("long")
          .as("n_occurrences"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).cast("long")
          .as("n_hapax"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).cast("long")
          .as("n_dis"))
      .select(col("lang"), col("n_types"), col("n_occurrences"),
        col("n_hapax"), col("n_dis"),
        expr("""cast(cast(n_hapax as decimal(38,0)) * 1000000
          div n_types as bigint)""").as("hapax_type_ppm"),
        expr("""cast(cast(n_hapax as decimal(38,0)) * 1000000
          div n_occurrences as bigint)""").as("hapax_mass_ppm"))
      .orderBy("lang")

  /** Vocabulary-coverage knee points per language — the
    * tokenizer-budget question asked directly: the smallest top-K
    * gram set whose occurrence mass reaches 50/90/95% of the
    * language's total. Concentrated languages (small k90) tokenize
    * cheaply and dedup aggressively; flat ones don't. All integer:
    * the threshold test is cum·100 ≥ total·q (no percentage
    * doubles), ties in the ranking broken by gram hash.
    *
    * Scale shape: the shared gram-vocabulary combine, then ONE rank
    * window + running sum per lang over VOCAB rows (the bounded
    * frame every vocab op sorts — sub-linear in corpus size), and a
    * ≤ |langs| rollup riding the window's partitioning. */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val byLang = Window.partitionBy(col("lang"))
    val ranked = Window.partitionBy(col("lang"))
      .orderBy(col("c").desc, col("gram_h"))
    langGramCounts(s, dir)
      .withColumn("r", row_number().over(ranked).cast("long"))
      .withColumn("cum", sum(col("c")).over(ranked
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"))
      .withColumn("total", sum(col("c")).over(byLang).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_types"),
        max(col("total")).as("n_occurrences"),
        min(when(col("cum") * 100 >= col("total") * 50, col("r")))
          .as("k50"),
        min(when(col("cum") * 100 >= col("total") * 90, col("r")))
          .as("k90"),
        min(when(col("cum") * 100 >= col("total") * 95, col("r")))
          .as("k95"))
      .orderBy("lang")
  }

  /** Shared-head boilerplate clusters — the template-detector a web
    * corpus runs before span-level dedup: docs grouped by the hash
    * of their FIRST 3 tokens (the header/banner position), clusters
    * of ≥ 2 docs reported with size, how many sources they span
    * (cross-source heads are injected boilerplate, single-source
    * heads are house templates), and the min-doc_id exemplar.
    * Complements q_substring_spans (any-position spans) with the
    * position-anchored head signal at a fraction of the cost — one
    * hash per doc, not one per span.
    *
    * Scale shape: head hash is scan-side; ONE combine agg on the
    * head hash (distinct-source count is bounded by |sources| inside
    * the agg state); the ≥ 2 filter prunes to the cluster frame. */
  def prefixCluster(s: SparkSession, dir: String): DataFrame =
    tokenized(s, dir, spread = true)
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), col("source"),
        expr(PortableHashes.hashSql("""concat(element_at(toks, 1), ' ',
          element_at(toks, 2), ' ', element_at(toks, 3))"""))
          .as("head_h"))
      .groupBy(col("head_h"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("exemplar_doc_id"))
      .where(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("head_h"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_prefix_cluster" -> prefixCluster _,
    "q_hapax_ratio" -> hapaxRatio _,
    "q_vocab_coverage" -> vocabCoverage _,
    "q_repeat_ratio" -> repeatRatio _,
    "q_source_overlap" -> sourceOverlap _,
    "q_zipf_fit" -> zipfFit _,
    "q_vocab_saturation" -> vocabSaturation _,
    "q_ngram_novelty" -> ngramNovelty _,
    "q_chi2_independence" -> chi2Independence _,
    "q_gini_token" -> giniToken _,
    "q_dsir_weights" -> dsirWeights _,
    "q_span_trim" -> spanTrim _,
    "q_lsh_tuning" -> lshTuning _,
    "q_doc_entropy" -> docEntropy _,
    "q_doc_perplexity" -> docPerplexity _,
    "q_feature_mi" -> featureMi _,
    "q_filter_battery" -> filterBattery _,
    "q_substring_spans" -> substringSpans _,
    "q_pmi_cooccur" -> pmiCooccur _,
    "q_corpus_drift" -> corpusDrift _,
    "q_tfidf_topterms" -> tfidfTopterms _,
    "q_bm25_score" -> bm25Score _,
    "q_chunk_bm25" -> chunkBm25 _,
    "q_countmin_freq" -> countminFreq _,
    "q_vocab_topk" -> vocabTopk _,
    "q_token_rarity" -> tokenRarity _,
    "q_bigram_lm" -> bigramLm _,
    "q_bpe_pair_counts" -> bpePairCounts _,
    "q_minhash_containment" -> minhashContainment _,
    "q_minhash_jaccard_est" -> minhashJaccardEst _,
    "q_bbit_minhash" -> bbitMinhash _,
    "q_ccnet_buckets" -> ccnetBuckets _,
    "q_tokenizer_fertility" -> tokenizerFertility _,
    "q_doc_chunk" -> docChunk _,
    "q_chunk_dedup" -> chunkDedup _,
    "q_lang_id" -> langId _,
    "q_langid_confusion" -> langidConfusion _,
    "q_quality_score" -> qualityScore _,
    "q_token_count_bpe" -> tokenCountBpe _,
    "q_doc_fingerprint" -> docFingerprint _,
    "q_simhash_dedup" -> simhashDedup _,
    "q_simhash_hamming" -> simhashHamming _,
    "q_ngram_jaccard" -> ngramJaccard _,
    "q_pii_redact" -> piiRedact _,
    "q_repetition_filter" -> repetitionFilter _)

  private val phSqlDuck =
    "CAST('0x' || substring(sha256(%s), 1, 15) AS BIGINT)"

  val oracles: Map[String, String] = Map(
    // Same head hash, same cluster threshold, same (size desc, hash)
    // order.
    "q_prefix_cluster" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |         CAST('0x' || substring(sha256(
        |           string_split(text, ' ')[1] || ' ' ||
        |           string_split(text, ' ')[2] || ' ' ||
        |           string_split(text, ' ')[3]), 1, 15) AS BIGINT)
        |           AS head_h
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3)
        |SELECT head_h, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |       min(doc_id) AS exemplar_doc_id
        |FROM h GROUP BY head_h HAVING count(*) >= 2
        |ORDER BY n_docs DESC, head_h""".stripMargin,
    // Same hashed gram space keyed by lang, same count classes, same
    // truncating ppms — all integer.
    "q_hapax_ratio" ->
      """WITH sh AS (
        |  SELECT lang,
        |         list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2]) AS shingles
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |c AS (
        |  SELECT lang,
        |         CAST('0x' || substring(sha256(gram), 1, 15) AS BIGINT)
        |           AS gram_h,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT lang, unnest(shingles) AS gram FROM sh)
        |  GROUP BY 1, 2)
        |SELECT lang,
        |       CAST(count(*) AS BIGINT) AS n_types,
        |       CAST(sum(c) AS BIGINT) AS n_occurrences,
        |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_hapax,
        |       CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dis,
        |       CAST(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
        |            AS HUGEINT) * 1000000 // count(*) AS BIGINT)
        |         AS hapax_type_ppm,
        |       CAST(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
        |            AS HUGEINT) * 1000000 // sum(c) AS BIGINT)
        |         AS hapax_mass_ppm
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    // Same ranked vocabulary (count desc, hash tiebreak), same
    // integer threshold test cum·100 ≥ total·q.
    "q_vocab_coverage" ->
      """WITH sh AS (
        |  SELECT lang,
        |         list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2]) AS shingles
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |c AS (
        |  SELECT lang,
        |         CAST('0x' || substring(sha256(gram), 1, 15) AS BIGINT)
        |           AS gram_h,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT lang, unnest(shingles) AS gram FROM sh)
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT lang, c,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |           ORDER BY c DESC, gram_h) AS BIGINT) AS r,
        |         CAST(SUM(c) OVER (PARTITION BY lang
        |           ORDER BY c DESC, gram_h
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |         CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT)
        |           AS total
        |  FROM c)
        |SELECT lang,
        |       CAST(count(*) AS BIGINT) AS n_types,
        |       max(total) AS n_occurrences,
        |       min(CASE WHEN cum * 100 >= total * 50 THEN r END) AS k50,
        |       min(CASE WHEN cum * 100 >= total * 90 THEN r END) AS k90,
        |       min(CASE WHEN cum * 100 >= total * 95 THEN r END) AS k95
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    // Same hashed gram space, same (source, gram) collapse, same
    // truncating redundancy ppm — all integer.
    "q_repeat_ratio" ->
      """WITH sh AS (
        |  SELECT source,
        |         list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2]) AS shingles
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |g AS (
        |  SELECT source,
        |         CAST('0x' || substring(sha256(gram), 1, 15) AS BIGINT)
        |           AS gram_h
        |  FROM (SELECT source, unnest(shingles) AS gram FROM sh)),
        |c AS (
        |  SELECT source, gram_h, CAST(count(*) AS BIGINT) AS c
        |  FROM g GROUP BY 1, 2)
        |SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_types,
        |       CAST(sum(c) AS BIGINT) AS n_occurrences,
        |       max(c) AS max_gram_count,
        |       CAST((CAST(sum(c) AS HUGEINT) - count(*)) * 1000000 //
        |            sum(c) AS BIGINT) AS redundancy_ppm
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    // Same distinct type sets, same ordered source pairs, same
    // truncating Jaccard ppm — all integer.
    "q_source_overlap" ->
      """WITH sh AS (
        |  SELECT source,
        |         list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2]) AS shingles
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sg AS (SELECT DISTINCT source, gram FROM
        |         (SELECT source, unnest(shingles) AS gram FROM sh)),
        |z AS (SELECT source, CAST(count(*) AS BIGINT) AS n_t
        |      FROM sg GROUP BY 1),
        |p AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |         CAST(count(*) AS BIGINT) AS n_shared
        |  FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT p.src_a, p.src_b, p.n_shared,
        |       za.n_t AS n_a, zb.n_t AS n_b,
        |       CAST(CAST(p.n_shared AS HUGEINT) * 1000000 //
        |            (za.n_t + zb.n_t - p.n_shared) AS BIGINT)
        |         AS jaccard_ppm
        |FROM p
        |JOIN z za ON p.src_a = za.source
        |JOIN z zb ON p.src_b = zb.source
        |ORDER BY src_a, src_b""".stripMargin,
    // Same (count desc, token) rank, same bitlength log2, same
    // wide-cast regression sums and truncating ppm slope.
    "q_zipf_fit" ->
      """WITH c AS (
        |  SELECT lang, token, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
        |        FROM documents)
        |  GROUP BY lang, token),
        |r AS (
        |  SELECT lang,
        |         CAST(length(bin(CAST(row_number() OVER (
        |           PARTITION BY lang ORDER BY c DESC, token) AS BIGINT)))
        |           AS BIGINT) AS x,
        |         CAST(length(bin(c)) AS BIGINT) AS y
        |  FROM c)
        |SELECT lang,
        |       CAST(count(*) AS BIGINT) AS n_types,
        |       CAST((CAST(count(*) AS HUGEINT) * sum(x * y)
        |           - CAST(sum(x) AS HUGEINT) * sum(y)) * 1000000 //
        |            (CAST(count(*) AS HUGEINT) * sum(x * x)
        |           - CAST(sum(x) AS HUGEINT) * sum(x)) AS BIGINT)
        |         AS slope_ppm
        |FROM r GROUP BY lang HAVING count(*) >= 2
        |ORDER BY lang""".stripMargin,
    // Same 32-slice bucket rule, same 3-gram type space, same
    // first-slice charge, same truncating ppm — all integer.
    "q_vocab_saturation" ->
      """WITH mx AS (SELECT max(doc_id) AS max_id FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2]) AS shingles
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |tok AS (
        |  SELECT g.doc_id * 32 // (mx.max_id + 1) AS slice,
        |         CAST('0x' || substring(sha256(g.gram), 1, 15) AS BIGINT)
        |           AS token
        |  FROM (SELECT doc_id, unnest(shingles) AS gram FROM sh) g, mx),
        |fs AS (SELECT token, min(slice) AS first_slice
        |       FROM tok GROUP BY token),
        |c AS (SELECT first_slice AS slice,
        |             CAST(count(*) AS BIGINT) AS new_types
        |      FROM fs GROUP BY 1),
        |w AS (SELECT slice, new_types,
        |             CAST(sum(new_types) OVER (ORDER BY slice
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |               AS BIGINT) AS cum_types
        |      FROM c)
        |SELECT slice, new_types, cum_types,
        |       CAST(new_types * 1000000 // cum_types AS BIGINT)
        |         AS growth_ppm
        |FROM w ORDER BY slice""".stripMargin,
    // Same distinct (gram, doc) pairs, same min-doc first-seer, same
    // tie-free novelty flag and truncating ppm.
    "q_ngram_novelty" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2]) AS shingles
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |g AS (SELECT DISTINCT doc_id,
        |        CAST('0x' || substring(sha256(gram), 1, 15) AS BIGINT)
        |          AS gram
        |      FROM (SELECT doc_id, unnest(shingles) AS gram FROM s)),
        |f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
        |SELECT g.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(sum(CASE WHEN f.first_doc = g.doc_id
        |         THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       CAST(sum(CASE WHEN f.first_doc = g.doc_id
        |         THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
        |         AS novelty_ppm
        |FROM g JOIN f USING (gram)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    // Same bounded grid, same wide-cast (oN − rc)² cells, same floors.
    "q_chi2_independence" ->
      """WITH g AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY lang, source),
        |m AS (
        |  SELECT *,
        |         sum(o) OVER (PARTITION BY lang) AS r,
        |         sum(o) OVER (PARTITION BY source) AS c,
        |         sum(o) OVER () AS n
        |  FROM g),
        |cells AS (
        |  SELECT lang, source, r,
        |         CAST((CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
        |            * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
        |            * 1000000 //
        |            (CAST(r AS HUGEINT) * c * n) AS BIGINT) AS cell_ppm
        |  FROM m),
        |x AS (
        |  SELECT *, max(cell_ppm) OVER (PARTITION BY lang) AS cmax
        |  FROM cells)
        |SELECT lang,
        |       CAST(max(r) AS BIGINT) AS n_docs,
        |       CAST(sum(cell_ppm) AS BIGINT) AS chi2_ppm,
        |       min(CASE WHEN cell_ppm = cmax THEN source END) AS top_source
        |FROM x GROUP BY lang ORDER BY lang""".stripMargin,
    // Same (count, token) ascending rank — tie order provably cannot
    // change the sum — same HUGEINT products and truncating ppm.
    "q_gini_token" ->
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |c AS (
        |  SELECT lang, token, CAST(count(*) AS BIGINT) AS c
        |  FROM tok GROUP BY lang, token),
        |r AS (
        |  SELECT *,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY c, token) AS BIGINT) AS i,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM c)
        |SELECT lang,
        |       max(n) AS n_tokens,
        |       CAST(sum(c) AS BIGINT) AS n_occurrences,
        |       CAST(sum(CAST(2 * i - n - 1 AS HUGEINT) * c) * 1000000 //
        |            (CAST(max(n) AS HUGEINT) * sum(c)) AS BIGINT) AS gini_ppm,
        |       CAST(CAST(max(c) AS HUGEINT) * 1000000 // sum(c) AS BIGINT)
        |         AS top_share_ppm
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    // Same gram stream (unigrams + bigrams), same 1024-bucket hash,
    // same Laplace-smoothed HUGEINT ratio and bitlength log2 — all
    // integer-exact, so the scores match bit for bit.
    "q_dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang, unnest(list_concat(toks,
        |    CASE WHEN len(toks) >= 2 THEN
        |      list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i + 1])
        |    ELSE CAST([] AS VARCHAR[]) END)) AS g
        |  FROM tok),
        |fb AS (
        |  SELECT doc_id, lang,
        |         CAST('0x' || substring(sha256(g), 1, 15) AS BIGINT)
        |           % 1024 AS b
        |  FROM g),
        |tc AS (SELECT b, count(*) AS ct FROM fb WHERE lang = 'en' GROUP BY b),
        |rc AS (SELECT b, count(*) AS cr FROM fb GROUP BY b),
        |tot AS (
        |  SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt,
        |         count(*) AS nr
        |  FROM fb),
        |w AS (
        |  SELECT rc.b,
        |         CAST(length(bin(greatest(CAST(
        |           (1000000 * CAST(coalesce(tc.ct, 0) + 1 AS HUGEINT)
        |              * (tot.nr + 1024))
        |           // (CAST(rc.cr + 1 AS HUGEINT) * (tot.nt + 1024))
        |           AS BIGINT), 1))) AS BIGINT) - 20 AS wbits
        |  FROM rc LEFT JOIN tc USING (b), tot),
        |pd AS (
        |  SELECT fb.doc_id, fb.lang, count(*) AS n_feats,
        |         CAST(sum(w.wbits) AS BIGINT) AS score_bits
        |  FROM fb JOIN w USING (b)
        |  GROUP BY fb.doc_id, fb.lang),
        |gl AS (
        |  SELECT CAST(sum(score_bits) AS HUGEINT) AS g_bits,
        |         CAST(sum(n_feats) AS HUGEINT) AS g_feats
        |  FROM pd)
        |SELECT doc_id, lang, n_feats, score_bits,
        |       CAST(CAST(score_bits AS HUGEINT) * gl.g_feats
        |            > CAST(n_feats AS HUGEINT) * gl.g_bits AS BIGINT) AS sel
        |FROM pd, gl
        |ORDER BY doc_id""".stripMargin,
    // Same span hashes as q_substring_spans, coverage exploded to
    // token indices, surviving tokens re-joined in original order
    // (ORDER BY inside the list agg = Spark's array_sort on (idx,
    // token) structs), empty survivors coalesce to '' both sides.
    "q_span_trim" ->
      ("""WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sp0 AS (
        |  SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS pos FROM tok),
        |sp AS (
        |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |         CAST('0x' || substring(sha256(
        |           array_to_string(toks[pos:pos+2], ' ')), 1, 15) AS BIGINT) AS h
        |  FROM sp0),
        |c AS (SELECT h, count(*) AS n_occ FROM sp GROUP BY h),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos + d.range AS idx
        |  FROM sp JOIN c USING (h), range(0, 3) d
        |  WHERE c.n_occ > 1),
        |tk AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS idx, toks[i] AS token
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
        |        FROM tok)),
        |f AS (
        |  SELECT tk.doc_id, tk.idx, tk.token,
        |         cov.idx IS NOT NULL AS is_cov
        |  FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id
        |       AND tk.idx = cov.idx),
        |a AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |         CAST(sum(CASE WHEN is_cov THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_covered,
        |         coalesce(array_to_string(
        |           list(token ORDER BY idx) FILTER (WHERE NOT is_cov),
        |           ' '), '') AS trimmed
        |  FROM f GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_covered,
        |       CAST(1000000 * CAST(n_tokens - n_covered AS HUGEINT)
        |         // n_tokens AS BIGINT) AS keep_ppm,
        |       """ + phSqlDuck.format("trimmed") + """ AS trimmed_hash
        |FROM a ORDER BY doc_id""").stripMargin,
    // Same en-reference Laplace counts, same per-occurrence
    // ln((uc+V)/(bc+1)) floored to micro-nats, same doc sums.
    "q_doc_perplexity" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS toks
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (
        |  SELECT doc_id, lang, unnest(list_transform(
        |    range(1, len(toks)), i -> struct_pack(
        |      w1 := toks[i], bgr := toks[i] || ' ' || toks[i + 1]))) AS p
        |  FROM tok),
        |f AS (SELECT doc_id, lang, p.w1 AS w1, p.bgr AS bgr FROM bg),
        |bc AS (SELECT bgr, count(*) AS bc FROM f WHERE lang = 'en'
        |       GROUP BY bgr),
        |uc AS (SELECT w1, count(*) AS uc FROM f WHERE lang = 'en'
        |       GROUP BY w1),
        |v AS (SELECT count(DISTINCT w1) AS v FROM f WHERE lang = 'en'),
        |occ AS (
        |  SELECT doc_id, w1, bgr, count(*) AS occ
        |  FROM f GROUP BY doc_id, w1, bgr),
        |cost AS (
        |  SELECT o.doc_id, o.occ,
        |         CAST(floor(ln(
        |           CAST(coalesce(uc.uc, 0) + v.v AS DOUBLE) /
        |           CAST(coalesce(bc.bc, 0) + 1 AS DOUBLE)) * 1000000.0)
        |           AS BIGINT) AS cost_micro
        |  FROM occ o
        |  LEFT JOIN bc ON o.bgr = bc.bgr
        |  LEFT JOIN uc ON o.w1 = uc.w1
        |  CROSS JOIN v),
        |a AS (
        |  SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_bigrams,
        |         CAST(sum(occ * cost_micro) AS BIGINT) AS ce_micro
        |  FROM cost GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, ce_micro,
        |       CAST(ce_micro // n_bigrams AS BIGINT) AS avg_nll_micro
        |FROM a ORDER BY doc_id""".stripMargin,
    // Same three discretizations, same bounded-grid marginals, same
    // signed micro-nat cell floors.
    "q_feature_mi" ->
      """WITH base AS (
        |  SELECT lang, n_chars,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS ntoks,
        |         CAST(len(list_filter(string_split(text, ' '),
        |           x -> x IN ('a','the','of','and','in'))) AS BIGINT)
        |           AS nstop
        |  FROM documents),
        |tagged AS (
        |  SELECT lang, 'len_bin' AS feature,
        |         least(n_chars // 200, 9) AS bin FROM base
        |  UNION ALL
        |  SELECT lang, 'tok_bin', least(ntoks // 40, 9) FROM base
        |  UNION ALL
        |  SELECT lang, 'stop_bin',
        |         least((10 * nstop) // greatest(ntoks, 1), 9) FROM base),
        |cells AS (
        |  SELECT feature, lang, bin, count(*) AS c
        |  FROM tagged GROUP BY feature, lang, bin),
        |m AS (
        |  SELECT feature, c,
        |         sum(c) OVER (PARTITION BY feature, lang) AS cx,
        |         sum(c) OVER (PARTITION BY feature, bin) AS cy,
        |         sum(c) OVER (PARTITION BY feature) AS nn
        |  FROM cells),
        |q AS (
        |  SELECT feature,
        |         CAST(floor((CAST(c AS DOUBLE) / CAST(nn AS DOUBLE)) *
        |           ln((CAST(c AS DOUBLE) * CAST(nn AS DOUBLE)) /
        |              (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))) *
        |           1000000.0) AS BIGINT) AS contrib_micro
        |  FROM m)
        |SELECT feature, count(*) AS n_cells,
        |       CAST(sum(contrib_micro) AS BIGINT) AS mi_micro
        |FROM q GROUP BY feature
        |ORDER BY feature""".stripMargin,
    // Same band CTEs as q_minhash_jaccard_est truncated to 8 sigs,
    // same explicit multiply trees (no pow()), same micro-unit
    // floors and truncating divisions.
    "q_lsh_tuning" -> {
      def bandEq(b0: Int, r: Int): String =
        (1 to r).map(i => s"ma[${b0 * r + i}] = mb[${b0 * r + i}]")
          .mkString("(", " AND ", ")")
      def collide(b: Int, r: Int): String =
        (0 until b).map(bandEq(_, r)).mkString(" OR ")
      s"""WITH s AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2]) AS shingles
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sets AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(shingles,
        |           sh -> ${phSqlDuck.format("sh")} % 2147483647)) AS hset
        |  FROM s),
        |m AS (
        |  SELECT doc_id, hset,
        |         list_transform(range(0, 8), j -> list_min(list_transform(hset,
        |           h -> (h * (j + 1) + 37 * j + 101) % 2147483647))) AS mh
        |  FROM sets),
        |bands AS (
        |  SELECT doc_id, b.range AS band,
        |         mh[CAST(b.range AS INT) + 1] AS sig
        |  FROM m, range(0, 8) b),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM bands a JOIN bands c
        |    ON a.band = c.band AND a.sig = c.sig AND a.doc_id < c.doc_id),
        |pj AS (
        |  SELECT cand.doc_a, cand.doc_b, x.mh AS ma, y.mh AS mb,
        |         CAST(len(list_intersect(x.hset, y.hset)) AS DOUBLE) /
        |         CAST(len(list_distinct(list_concat(x.hset, y.hset)))
        |           AS DOUBLE) AS j
        |  FROM cand
        |  JOIN m x ON x.doc_id = cand.doc_a
        |  JOIN m y ON y.doc_id = cand.doc_b),
        |l1 AS (SELECT *, j * j AS j2,
        |              CAST(1 AS DOUBLE) - j AS q1 FROM pj),
        |l2 AS (SELECT *, j2 * j2 AS j4, q1 * q1 AS q1_2,
        |              CAST(1 AS DOUBLE) - j2 AS qa FROM l1),
        |l3 AS (SELECT *, q1_2 * q1_2 AS q1_4, qa * qa AS qa2,
        |              CAST(1 AS DOUBLE) - j4 AS qb FROM l2),
        |l4 AS (SELECT *, q1_4 * q1_4 AS q1_8, qa2 * qa2 AS qa4,
        |              qb * qb AS qb2 FROM l3),
        |a AS (
        |  SELECT count(*) AS n_pairs,
        |         CAST(sum(CASE WHEN ${collide(8, 1)} THEN 1 ELSE 0 END)
        |           AS BIGINT) AS c81,
        |         CAST(sum(CASE WHEN ${collide(4, 2)} THEN 1 ELSE 0 END)
        |           AS BIGINT) AS c42,
        |         CAST(sum(CASE WHEN ${collide(2, 4)} THEN 1 ELSE 0 END)
        |           AS BIGINT) AS c24,
        |         CAST(sum(CAST(floor((CAST(1 AS DOUBLE) - q1_8)
        |           * CAST(1000000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS e81,
        |         CAST(sum(CAST(floor((CAST(1 AS DOUBLE) - qa4)
        |           * CAST(1000000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS e42,
        |         CAST(sum(CAST(floor((CAST(1 AS DOUBLE) - qb2)
        |           * CAST(1000000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS e24
        |  FROM l4)
        |SELECT geometry, n_pairs, n_collide, collide_ppm, expected_collide_u
        |FROM (
        |  SELECT 'b8_r1' AS geometry, n_pairs, c81 AS n_collide,
        |         CAST(1000000 * CAST(c81 AS HUGEINT)
        |           // greatest(n_pairs, 1) AS BIGINT) AS collide_ppm,
        |         e81 AS expected_collide_u FROM a
        |  UNION ALL SELECT 'b4_r2', n_pairs, c42,
        |         CAST(1000000 * CAST(c42 AS HUGEINT)
        |           // greatest(n_pairs, 1) AS BIGINT), e42 FROM a
        |  UNION ALL SELECT 'b2_r4', n_pairs, c24,
        |         CAST(1000000 * CAST(c24 AS HUGEINT)
        |           // greatest(n_pairs, 1) AS BIGINT), e24 FROM a)
        |ORDER BY geometry""".stripMargin
    },
    "q_doc_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
        |e AS (
        |  SELECT doc_id, c,
        |         CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n_tokens,
        |         count(*) OVER (PARTITION BY doc_id) AS n_types
        |  FROM c)
        |SELECT doc_id, max(n_tokens) AS n_tokens,
        |       CAST(max(n_types) AS BIGINT) AS n_types,
        |       CAST(sum(CAST(floor((CAST(c AS DOUBLE) / n_tokens) *
        |         ln(CAST(n_tokens AS DOUBLE) / c) * 1000000000.0) AS BIGINT))
        |         AS BIGINT) AS entropy_nano
        |FROM e GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_filter_battery" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sig AS (
        |  SELECT CAST(len(toks) AS BIGINT) AS n_toks,
        |         CAST(len(list_distinct(toks)) AS BIGINT) AS n_dist,
        |         CAST(len(list_filter(toks,
        |           x -> x IN ('a','the','of','and','in'))) AS BIGINT) AS n_stop,
        |         CASE WHEN len(toks) >= 2 THEN CAST(floor(1e6 *
        |             (len(toks) - 1 - len(list_distinct(list_transform(
        |                range(1, len(toks)),
        |                i -> toks[i] || ' ' || toks[i + 1]))))
        |             / (len(toks) - 1)) AS BIGINT)
        |         ELSE 0 END AS rep_ppm
        |  FROM t),
        |f AS (
        |  SELECT n_toks < 10 AS r_short, rep_ppm >= 100000 AS r_repetitive,
        |         1000000 * n_dist // n_toks < 300000 AS r_low_ttr,
        |         n_stop = 0 AS r_no_stopwords
        |  FROM sig),
        |a AS (
        |  SELECT count(*) AS n_docs,
        |         CAST(sum(CASE WHEN r_short THEN 1 ELSE 0 END) AS BIGINT) AS c_short,
        |         CAST(sum(CASE WHEN r_repetitive THEN 1 ELSE 0 END) AS BIGINT) AS c_rep,
        |         CAST(sum(CASE WHEN r_low_ttr THEN 1 ELSE 0 END) AS BIGINT) AS c_ttr,
        |         CAST(sum(CASE WHEN r_no_stopwords THEN 1 ELSE 0 END) AS BIGINT) AS c_stop,
        |         CAST(sum(CASE WHEN r_short OR r_repetitive OR r_low_ttr
        |           OR r_no_stopwords THEN 1 ELSE 0 END) AS BIGINT) AS c_any
        |  FROM f)
        |SELECT rule, n_flagged, n_docs,
        |       CAST(1000000 * CAST(n_flagged AS HUGEINT) // n_docs AS BIGINT) AS share_ppm
        |FROM (
        |  SELECT 'any' AS rule, c_any AS n_flagged, n_docs FROM a
        |  UNION ALL SELECT 'r_low_ttr', c_ttr, n_docs FROM a
        |  UNION ALL SELECT 'r_no_stopwords', c_stop, n_docs FROM a
        |  UNION ALL SELECT 'r_repetitive', c_rep, n_docs FROM a
        |  UNION ALL SELECT 'r_short', c_short, n_docs FROM a)
        |ORDER BY rule""".stripMargin,
    "q_substring_spans" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |sp0 AS (
        |  SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS pos FROM tok),
        |sp AS (
        |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |         CAST('0x' || substring(sha256(
        |           array_to_string(toks[pos:pos+2], ' ')), 1, 15) AS BIGINT) AS h
        |  FROM sp0),
        |c AS (SELECT h, count(*) AS n_occ FROM sp GROUP BY h),
        |j AS (SELECT doc_id, pos, n_occ FROM sp JOIN c USING (h))
        |SELECT doc_id, count(*) AS n_spans,
        |       CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dup_spans,
        |       coalesce(min(CASE WHEN n_occ > 1 THEN pos END),
        |                CAST(-1 AS BIGINT)) AS first_dup_pos,
        |       CAST(1000000 * CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END)
        |              AS HUGEINT) // count(*) AS BIGINT) AS dup_ppm
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_pmi_cooccur" ->
      """WITH alltok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |top AS (
        |  SELECT token, count(*) AS gcnt FROM alltok GROUP BY token
        |  ORDER BY gcnt DESC, token LIMIT 50),
        |dt AS (
        |  SELECT DISTINCT doc_id, token FROM alltok JOIN top USING (token)),
        |nx AS (SELECT token, count(*) AS n_x FROM dt GROUP BY token),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |p AS (
        |  SELECT a.token AS token_a, b.token AS token_b, count(*) AS n_xy
        |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.token < b.token
        |  GROUP BY 1, 2)
        |SELECT token_a, token_b, n_xy, xa.n_x AS n_a, xb.n_x AS n_b,
        |       CAST(length(bin(n_xy * n_docs)) - length(bin(xa.n_x * xb.n_x))
        |            AS BIGINT) AS pmi_bits
        |FROM p JOIN nx xa ON token_a = xa.token
        |       JOIN nx xb ON token_b = xb.token, nd
        |ORDER BY n_xy DESC, token_a, token_b LIMIT 100""".stripMargin,
    "q_corpus_drift" ->
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |top AS (
        |  SELECT token, count(*) AS gcnt FROM tok GROUP BY token
        |  ORDER BY gcnt DESC, token LIMIT 50),
        |gt AS (SELECT CAST(sum(gcnt) AS BIGINT) AS gtot FROM top),
        |sl AS (
        |  SELECT lang, token, count(*) AS lcnt
        |  FROM tok JOIN top USING (token) GROUP BY lang, token),
        |lt AS (SELECT lang, CAST(sum(lcnt) AS BIGINT) AS ltot FROM sl GROUP BY lang),
        |c AS (
        |  SELECT sl.lang,
        |         CAST(floor((CAST(lcnt AS DOUBLE) / CAST(ltot AS DOUBLE)) *
        |           ln((CAST(lcnt AS DOUBLE) / CAST(ltot AS DOUBLE)) /
        |              (CAST(gcnt AS DOUBLE) / CAST(gtot AS DOUBLE))) *
        |           CAST(1000000000.0 AS DOUBLE)) AS BIGINT) AS contrib_nano
        |  FROM sl JOIN top USING (token) JOIN lt ON sl.lang = lt.lang, gt)
        |SELECT lang, count(*) AS n_head_terms,
        |       CAST(sum(contrib_nano) AS BIGINT) AS kl_nano
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    "q_tfidf_topterms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
        |df AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token),
        |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |wgt AS (
        |  SELECT doc_id, token, tf,
        |         CAST(tf AS DOUBLE) * ln(n_docs / df) AS tfidf_raw
        |  FROM tf JOIN df USING (token), nd)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, tf,
        |       round(tfidf_raw, 6) AS tfidf
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf_raw DESC, token) AS rank
        |  FROM wgt)
        |WHERE rank <= 5
        |ORDER BY doc_id, rank""".stripMargin,
    "q_bm25_score" ->
      """WITH tf AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark')) AS DOUBLE) AS tf_0,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x = 'query')) AS DOUBLE) AS tf_1,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x = 'window')) AS DOUBLE) AS tf_2
        |  FROM documents),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
        |         sum(CASE WHEN tf_0 > 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) AS df_0,
        |         sum(CASE WHEN tf_1 > 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) AS df_1,
        |         sum(CASE WHEN tf_2 > 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) AS df_2
        |  FROM tf),
        |s AS (
        |  SELECT doc_id,
        |         CAST(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END
        |            + CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END
        |            + CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END AS BIGINT) AS n_terms_matched,
        |         ln(CAST(1.0 AS DOUBLE) + (n_docs - df_0 + CAST(0.5 AS DOUBLE)) / (df_0 + CAST(0.5 AS DOUBLE)))
        |           * (tf_0 * CAST(2.2 AS DOUBLE))
        |           / (tf_0 + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl))
        |         + ln(CAST(1.0 AS DOUBLE) + (n_docs - df_1 + CAST(0.5 AS DOUBLE)) / (df_1 + CAST(0.5 AS DOUBLE)))
        |           * (tf_1 * CAST(2.2 AS DOUBLE))
        |           / (tf_1 + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl))
        |         + ln(CAST(1.0 AS DOUBLE) + (n_docs - df_2 + CAST(0.5 AS DOUBLE)) / (df_2 + CAST(0.5 AS DOUBLE)))
        |           * (tf_2 * CAST(2.2 AS DOUBLE))
        |           / (tf_2 + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl))
        |           AS raw
        |  FROM tf, stats)
        |SELECT doc_id, n_terms_matched, round(raw, 6) AS bm25_r6
        |FROM s WHERE n_terms_matched > 0
        |ORDER BY doc_id""".stripMargin,
    "q_chunk_bm25" ->
      """WITH ch AS (
        |  SELECT doc_id, chunk_id,
        |         toks[CAST(chunk_id * 24 + 1 AS INT) :
        |              CAST(chunk_id * 24 + 32 AS INT)] AS ctoks
        |  FROM (
        |    SELECT doc_id, unnest(range(0, (n + 23) // 24)) AS chunk_id, toks
        |    FROM (SELECT doc_id, string_split(text, ' ') AS toks,
        |                 len(string_split(text, ' ')) AS n
        |          FROM documents WHERE len(string_split(text, ' ')) >= 1))),
        |tf AS (
        |  SELECT doc_id, chunk_id,
        |         CAST(len(ctoks) AS DOUBLE) AS dl,
        |         CAST(len(list_filter(ctoks, x -> x = 'spark')) AS DOUBLE) AS tf_0,
        |         CAST(len(list_filter(ctoks, x -> x = 'query')) AS DOUBLE) AS tf_1,
        |         CAST(len(list_filter(ctoks, x -> x = 'window')) AS DOUBLE) AS tf_2
        |  FROM ch),
        |stats AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_chunks, avg(dl) AS avgdl,
        |         sum(CASE WHEN tf_0 > 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) AS df_0,
        |         sum(CASE WHEN tf_1 > 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) AS df_1,
        |         sum(CASE WHEN tf_2 > 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) AS df_2
        |  FROM tf),
        |s AS (
        |  SELECT doc_id, chunk_id,
        |         CAST(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END
        |            + CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END
        |            + CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END AS BIGINT) AS n_terms_matched,
        |         round(
        |           ln(CAST(1.0 AS DOUBLE) + (n_chunks - df_0 + CAST(0.5 AS DOUBLE)) / (df_0 + CAST(0.5 AS DOUBLE)))
        |             * (tf_0 * CAST(2.2 AS DOUBLE))
        |             / (tf_0 + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl))
        |           + ln(CAST(1.0 AS DOUBLE) + (n_chunks - df_1 + CAST(0.5 AS DOUBLE)) / (df_1 + CAST(0.5 AS DOUBLE)))
        |             * (tf_1 * CAST(2.2 AS DOUBLE))
        |             / (tf_1 + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl))
        |           + ln(CAST(1.0 AS DOUBLE) + (n_chunks - df_2 + CAST(0.5 AS DOUBLE)) / (df_2 + CAST(0.5 AS DOUBLE)))
        |             * (tf_2 * CAST(2.2 AS DOUBLE))
        |             / (tf_2 + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl)),
        |           6) AS bm25_r6
        |  FROM tf, stats)
        |SELECT doc_id, chunk_id, n_terms_matched, bm25_r6
        |FROM s WHERE n_terms_matched > 0
        |ORDER BY bm25_r6 DESC, doc_id, chunk_id LIMIT 10""".stripMargin,
    "q_countmin_freq" ->
      """WITH vocab AS (
        |  SELECT token, count(*) AS cnt,
        |         CAST('0x' || substring(sha256('cm:' || token), 1, 15) AS BIGINT)
        |           % 2147483647 AS h
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token),
        |ab(row_i, a, b) AS (VALUES (0, 3, 13), (1, 5, 17), (2, 7, 19), (3, 11, 23)),
        |cells AS (
        |  SELECT token, cnt, ab.row_i,
        |         (ab.a * h + ab.b) % 2147483647 % 1024 AS cell
        |  FROM vocab, ab),
        |sketch AS (
        |  SELECT row_i, cell, CAST(sum(cnt) AS BIGINT) AS counter
        |  FROM cells GROUP BY row_i, cell),
        |probes AS (
        |  SELECT token, cnt AS exact_cnt, h
        |  FROM vocab ORDER BY cnt DESC, token LIMIT 20),
        |pc AS (
        |  SELECT token, exact_cnt, ab.row_i,
        |         (ab.a * h + ab.b) % 2147483647 % 1024 AS cell
        |  FROM probes, ab)
        |SELECT token, exact_cnt, min(counter) AS est_cnt,
        |       min(counter) - exact_cnt AS overestimate
        |FROM pc JOIN sketch USING (row_i, cell)
        |GROUP BY token, exact_cnt
        |ORDER BY token""".stripMargin,
    // Same integer-log2 rarity: bin() bitlength and integer div are
    // exact in both engines; DuckDB's HUGEINT sums cast back.
    "q_token_rarity" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |freq AS (SELECT token, count(*) AS freq FROM toks GROUP BY token)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(length(bin(freq))) AS BIGINT) AS sum_log2f,
        |       CAST(sum(length(bin(freq))) * 1000000 // count(*) AS BIGINT)
        |         AS mean_log2f_ppm
        |FROM toks JOIN freq USING (token)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_vocab_topk" ->
      """SELECT token, count(*) AS n_occurrences,
        |       count(DISTINCT doc_id) AS n_docs
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |      FROM documents)
        |GROUP BY token
        |ORDER BY n_occurrences DESC, token LIMIT 30""".stripMargin,
    "q_pii_redact" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         substring(text, 1, 40)
        |         || CASE WHEN doc_id % 3 <> 0
        |              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |              ELSE '' END
        |         || CASE WHEN doc_id % 2 = 0
        |              THEN ' call +1 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |              ELSE '' END AS dirty
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, dirty,
        |         regexp_replace(regexp_replace(dirty,
        |             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |           '\+1 555-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |  FROM d)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(dirty,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(dirty, '\+1 555-[0-9]{4}')) AS BIGINT) AS n_phones,
        |       CAST('0x' || substring(sha256(redacted), 1, 15) AS BIGINT) AS redacted_hash,
        |       (len(regexp_extract_all(redacted,
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |        + len(regexp_extract_all(redacted, '\+1 555-[0-9]{4}')) = 0) AS clean
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_repetition_filter" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id,
        |        list_transform(range(1, len(toks)),
        |          i -> toks[i] || ' ' || toks[i + 1]) AS grams
        |      FROM t WHERE len(toks) >= 2),
        |c AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        |        CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct FROM g)
        |SELECT doc_id, n_grams, n_distinct,
        |       CAST(floor(1e6 * (n_grams - n_distinct) / n_grams) AS BIGINT) AS rep_ppm,
        |       (CAST(floor(1e6 * (n_grams - n_distinct) / n_grams) AS BIGINT)
        |          >= 100000) AS flagged
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      """WITH cv AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |vocab AS (
        |  SELECT lang AS cand_lang, token FROM (
        |    SELECT lang, token, count(*) AS cnt,
        |           row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, token) AS r
        |    FROM cv GROUP BY lang, token) WHERE r <= 5),
        |tok AS (
        |  SELECT doc_id, lang AS true_lang,
        |         unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, true_lang, cand_lang, count(*) AS n_matches
        |  FROM tok JOIN vocab USING (token) GROUP BY 1, 2, 3)
        |SELECT doc_id, cand_lang AS pred_lang, n_matches,
        |       cand_lang = true_lang AS is_correct
        |FROM m
        |QUALIFY row_number() OVER (PARTITION BY doc_id
        |  ORDER BY n_matches DESC, cand_lang) = 1
        |ORDER BY doc_id""".stripMargin,
    "q_langid_confusion" ->
      """WITH cv AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |vocab AS (
        |  SELECT lang AS cand_lang, token FROM (
        |    SELECT lang, token, count(*) AS cnt,
        |           row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, token) AS r
        |    FROM cv GROUP BY lang, token) WHERE r <= 5),
        |tok AS (
        |  SELECT doc_id, lang AS true_lang,
        |         unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, true_lang, cand_lang, count(*) AS n_matches
        |  FROM tok JOIN vocab USING (token) GROUP BY 1, 2, 3),
        |pred AS (
        |  SELECT doc_id, true_lang, cand_lang AS pred_lang FROM m
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY n_matches DESC, cand_lang) = 1),
        |cells AS (
        |  SELECT true_lang, pred_lang, count(*) AS n_docs
        |  FROM pred GROUP BY true_lang, pred_lang),
        |tot AS (
        |  SELECT true_lang, CAST(sum(n_docs) AS BIGINT) AS lang_total
        |  FROM cells GROUP BY true_lang)
        |SELECT true_lang, pred_lang, n_docs, lang_total,
        |       CAST(1000000 * CAST(n_docs AS HUGEINT) // lang_total AS BIGINT) AS share_ppm
        |FROM cells JOIN tot USING (true_lang)
        |ORDER BY true_lang, pred_lang""".stripMargin,
    "q_quality_score" ->
      """SELECT doc_id,
        |       CAST(len(toks) AS BIGINT) AS n_tokens,
        |       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |       round(list_sum(list_transform(toks, x -> length(x))) / CAST(len(toks) AS DOUBLE), 6) AS mean_tok_len,
        |       round(len(list_filter(toks, x -> x IN ('a','the','of','and','in'))) / CAST(len(toks) AS DOUBLE), 6) AS stop_ratio,
        |       round(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 6) AS ttr,
        |       CAST(floor((
        |         CAST(0.4 AS DOUBLE) * least(len(toks) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) +
        |         CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - len(list_filter(toks, x -> x IN ('a','the','of','and','in'))) / CAST(len(toks) AS DOUBLE)) +
        |         CAST(0.3 AS DOUBLE) * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))
        |       ) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS quality_score_u
        |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_token_count_bpe" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_re_tokens,
        |       CAST(len(list_distinct(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT) AS n_re_distinct,
        |       round(list_sum(list_transform(regexp_extract_all(text, '[a-z0-9]+'), x -> length(x)))
        |             / CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS DOUBLE), 6) AS avg_re_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_doc_fingerprint" ->
      ("""WITH s AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2]) AS shingles
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |f AS (
        |  SELECT doc_id, shingles,
        |         list_filter(list_transform(shingles, sh -> """ + phSqlDuck.format("sh") + """), h -> h % 16 = 0) AS fps
        |  FROM s)
        |SELECT doc_id,
        |       CAST(len(shingles) AS BIGINT) AS n_shingles,
        |       CAST(len(fps) AS BIGINT) AS n_fingerprints,
        |       list_min(fps) AS min_fp,
        |       list_max(fps) AS max_fp
        |FROM f ORDER BY doc_id""").stripMargin,
    "q_simhash_dedup" ->
      ("""WITH h AS (
        |  SELECT doc_id,
        |         list_transform(string_split(text, ' '), tk -> """ + phSqlDuck.format("tk") + """) AS th
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |         list_transform(range(0, 32), i ->
        |           list_sum(list_transform(th, hh ->
        |             CASE WHEN (hh >> i) & 1 = 1 THEN 1 ELSE -1 END))) AS bits
        |  FROM h),
        |s AS (
        |  SELECT doc_id,
        |         CAST(list_sum(list_transform(range(0, 32), i ->
        |           CASE WHEN bits[i + 1] > 0 THEN 1::BIGINT << i ELSE 0::BIGINT END)) AS BIGINT) AS simhash
        |  FROM b),
        |bands AS (
        |  SELECT doc_id, simhash, r.range AS band,
        |         (simhash >> (8 * r.range)) & 255 AS byte
        |  FROM s, range(0, 4) r),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
        |         a.simhash AS sim_a, c.simhash AS sim_b
        |  FROM bands a JOIN bands c
        |    ON a.band = c.band AND a.byte = c.byte AND a.doc_id < c.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
        |FROM pairs
        |WHERE bit_count(xor(sim_a, sim_b)) <= 1
        |ORDER BY doc_a, doc_b""").stripMargin,
    // Same simhash pipeline and candidate frame; histogram instead
    // of the <= 1 cut.
    "q_simhash_hamming" ->
      ("""WITH h AS (
        |  SELECT doc_id,
        |         list_transform(string_split(text, ' '), tk -> """ + phSqlDuck.format("tk") + """) AS th
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |         list_transform(range(0, 32), i ->
        |           list_sum(list_transform(th, hh ->
        |             CASE WHEN (hh >> i) & 1 = 1 THEN 1 ELSE -1 END))) AS bits
        |  FROM h),
        |s AS (
        |  SELECT doc_id,
        |         CAST(list_sum(list_transform(range(0, 32), i ->
        |           CASE WHEN bits[i + 1] > 0 THEN 1::BIGINT << i ELSE 0::BIGINT END)) AS BIGINT) AS simhash
        |  FROM b),
        |bands AS (
        |  SELECT doc_id, simhash, r.range AS band,
        |         (simhash >> (8 * r.range)) & 255 AS byte
        |  FROM s, range(0, 4) r),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
        |         a.simhash AS sim_a, c.simhash AS sim_b
        |  FROM bands a JOIN bands c
        |    ON a.band = c.band AND a.byte = c.byte AND a.doc_id < c.doc_id),
        |g AS (
        |  SELECT CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming,
        |         CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM pairs GROUP BY 1)
        |SELECT hamming, n_pairs,
        |       CAST(CAST(n_pairs AS HUGEINT) * 1000000
        |            // CAST(sum(n_pairs) OVER () AS BIGINT) AS BIGINT)
        |         AS share_ppm
        |FROM g ORDER BY hamming""").stripMargin,
    "q_ngram_jaccard" ->
      ("""WITH s AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2]) AS shingles
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sets AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(shingles,
        |           sh -> """ + phSqlDuck.format("sh") + """ % 2147483647)) AS hset
        |  FROM s),
        |m AS (
        |  SELECT doc_id, b.range AS band,
        |         list_min(list_transform(hset,
        |           h -> (h * (b.range + 1) + 37 * b.range + 101) % 2147483647)) AS sig
        |  FROM sets, range(0, 8) b),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM m a JOIN m c ON a.band = c.band AND a.sig = c.sig AND a.doc_id < c.doc_id)
        |SELECT cand.doc_a, cand.doc_b,
        |       round(CAST(len(list_intersect(x.hset, y.hset)) AS DOUBLE) /
        |             CAST(len(list_distinct(list_concat(x.hset, y.hset))) AS DOUBLE), 6) AS jaccard
        |FROM cand
        |JOIN sets x ON x.doc_id = cand.doc_a
        |JOIN sets y ON y.doc_id = cand.doc_b
        |ORDER BY doc_a, doc_b""").stripMargin,
    "q_minhash_containment" ->
      ("""WITH s AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2]) AS shingles
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sets AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(shingles,
        |           sh -> """ + phSqlDuck.format("sh") + """ % 2147483647)) AS hset
        |  FROM s),
        |m AS (
        |  SELECT doc_id, b.range AS band,
        |         list_min(list_transform(hset,
        |           h -> (h * (b.range + 1) + 37 * b.range + 101) % 2147483647)) AS sig
        |  FROM sets, range(0, 8) b),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM m a JOIN m c ON a.band = c.band AND a.sig = c.sig AND a.doc_id < c.doc_id)
        |SELECT cand.doc_a, cand.doc_b,
        |       CAST(len(list_intersect(x.hset, y.hset)) AS BIGINT) AS n_common,
        |       round(CAST(len(list_intersect(x.hset, y.hset)) AS DOUBLE) /
        |             CAST(len(x.hset) AS DOUBLE), 6) AS contain_a,
        |       round(CAST(len(list_intersect(x.hset, y.hset)) AS DOUBLE) /
        |             CAST(len(y.hset) AS DOUBLE), 6) AS contain_b
        |FROM cand
        |JOIN sets x ON x.doc_id = cand.doc_a
        |JOIN sets y ON y.doc_id = cand.doc_b
        |ORDER BY doc_a, doc_b""").stripMargin,
    "q_doc_chunk" ->
      ("""WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents WHERE len(string_split(text, ' ')) >= 1),
        |c AS (
        |  SELECT doc_id, unnest(range(0, (n + 23) // 24)) AS chunk_id, toks
        |  FROM d),
        |sl AS (
        |  SELECT doc_id, chunk_id,
        |         CAST(chunk_id * 24 + 1 AS BIGINT) AS start_tok,
        |         toks[CAST(chunk_id * 24 + 1 AS INT) :
        |              CAST(chunk_id * 24 + 32 AS INT)] AS chunk
        |  FROM c)
        |SELECT doc_id, chunk_id, start_tok,
        |       CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
        |       """ + phSqlDuck.format("array_to_string(chunk, ' ')") + """
        |         AS chunk_hash
        |FROM sl
        |ORDER BY doc_id, chunk_id""").stripMargin,
    // Parallel unnests zip positionally in DuckDB, pairing each w1
    // with its bigram; both integer-div operands can be negative —
    // `//` truncates toward zero like Spark's div.
    "q_bigram_lm" ->
      """WITH bg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(toks)),
        |           i -> toks[CAST(i AS INT)])) AS w1,
        |         unnest(list_transform(range(1, len(toks)),
        |           i -> toks[CAST(i AS INT)] || ' ' ||
        |                toks[CAST(i AS INT) + 1])) AS bgr
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents
        |        WHERE len(string_split(text, ' ')) >= 2)),
        |bgc AS (SELECT bgr, count(*) AS bc FROM bg GROUP BY bgr),
        |ugc AS (SELECT w1, count(*) AS uc FROM bg GROUP BY w1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(sum(length(bin(bc)) - length(bin(uc))) AS BIGINT)
        |         AS sum_dlog2,
        |       CAST(CAST(sum(length(bin(bc)) - length(bin(uc))) AS BIGINT)
        |              * 1000000 // count(*) AS BIGINT) AS mean_dlog2_ppm
        |FROM bg JOIN bgc USING (bgr) JOIN ugc USING (w1)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_chunk_dedup" ->
      ("""WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents WHERE len(string_split(text, ' ')) >= 1),
        |c AS (
        |  SELECT doc_id, unnest(range(0, (n + 23) // 24)) AS chunk_id, toks
        |  FROM d),
        |sl AS (
        |  SELECT doc_id, chunk_id,
        |         """ + phSqlDuck.format(
                   "array_to_string(toks[CAST(chunk_id * 24 + 1 AS INT) : " +
                   "CAST(chunk_id * 24 + 32 AS INT)], ' ')") + """
        |           AS chunk_hash
        |  FROM c)
        |SELECT chunk_hash, count(*) AS n_occurrences,
        |       count(DISTINCT doc_id) AS n_docs,
        |       CAST(min(doc_id * 1000000 + chunk_id) // 1000000 AS BIGINT)
        |         AS first_doc,
        |       CAST(min(doc_id * 1000000 + chunk_id) % 1000000 AS BIGINT)
        |         AS first_chunk
        |FROM sl GROUP BY chunk_hash HAVING count(*) > 1
        |ORDER BY chunk_hash""").stripMargin,
    "q_minhash_jaccard_est" ->
      ("""WITH s AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2]) AS shingles
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sets AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(shingles,
        |           sh -> """ + phSqlDuck.format("sh") + """ % 2147483647)) AS hset
        |  FROM s),
        |m AS (
        |  SELECT doc_id, hset,
        |         list_transform(range(0, 128), j -> list_min(list_transform(hset,
        |           h -> (h * (j + 1) + 37 * j + 101) % 2147483647))) AS mh
        |  FROM sets),
        |bands AS (
        |  SELECT doc_id, b.range AS band,
        |         mh[CAST(b.range AS INT) + 1] AS sig
        |  FROM m, range(0, 8) b),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM bands a JOIN bands c
        |    ON a.band = c.band AND a.sig = c.sig AND a.doc_id < c.doc_id),
        |scored AS (
        |  SELECT cand.doc_a, cand.doc_b,
        |         CAST(len(list_filter(range(0, 128),
        |           j -> x.mh[CAST(j AS INT) + 1] = y.mh[CAST(j AS INT) + 1]))
        |           AS BIGINT) AS n_agree,
        |         round(CAST(len(list_intersect(x.hset, y.hset)) AS DOUBLE) /
        |               CAST(len(list_distinct(list_concat(x.hset, y.hset)))
        |                 AS DOUBLE), 6) AS jaccard
        |  FROM cand
        |  JOIN m x ON x.doc_id = cand.doc_a
        |  JOIN m y ON y.doc_id = cand.doc_b)
        |SELECT doc_a, doc_b, n_agree,
        |       CAST(n_agree AS DOUBLE) / CAST(128 AS DOUBLE) AS est_jaccard,
        |       jaccard,
        |       CAST(floor(abs(CAST(n_agree AS DOUBLE) / CAST(128 AS DOUBLE)
        |         - jaccard) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS abs_err_u
        |FROM scored
        |ORDER BY doc_a, doc_b""").stripMargin,
    // Same sig family and band join; same 32-bit packs (list_reduce
    // with no init ≡ fold from 0 here since 0·2+b₁ = b₁), same
    // xor/popcount agreement and truncating ppm estimates.
    "q_bbit_minhash" ->
      ("""WITH s AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2]) AS shingles
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sets AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(shingles,
        |           sh -> """ + phSqlDuck.format("sh") + """ % 2147483647)) AS hset
        |  FROM s),
        |m AS (
        |  SELECT doc_id,
        |         list_transform(range(0, 128), j -> list_min(list_transform(hset,
        |           h -> (h * (j + 1) + 37 * j + 101) % 2147483647))) AS mh
        |  FROM sets),
        |w AS (
        |  SELECT doc_id, mh,
        |         list_reduce(list_transform(mh, x -> x % 2)[1:32],
        |           (a, x) -> a * 2 + x) AS w0,
        |         list_reduce(list_transform(mh, x -> x % 2)[33:64],
        |           (a, x) -> a * 2 + x) AS w1,
        |         list_reduce(list_transform(mh, x -> x % 2)[65:96],
        |           (a, x) -> a * 2 + x) AS w2,
        |         list_reduce(list_transform(mh, x -> x % 2)[97:128],
        |           (a, x) -> a * 2 + x) AS w3
        |  FROM m),
        |bands AS (
        |  SELECT doc_id, b.range AS band,
        |         mh[CAST(b.range AS INT) + 1] AS sig
        |  FROM m, range(0, 8) b),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM bands a JOIN bands c
        |    ON a.band = c.band AND a.sig = c.sig AND a.doc_id < c.doc_id),
        |scored AS (
        |  SELECT cand.doc_a, cand.doc_b,
        |         CAST(len(list_filter(range(0, 128),
        |           j -> x.mh[CAST(j AS INT) + 1] = y.mh[CAST(j AS INT) + 1]))
        |           AS BIGINT) AS n_agree_full,
        |         CAST(128 - bit_count(xor(x.w0, y.w0))
        |              - bit_count(xor(x.w1, y.w1))
        |              - bit_count(xor(x.w2, y.w2))
        |              - bit_count(xor(x.w3, y.w3)) AS BIGINT) AS n_agree_bit
        |  FROM cand
        |  JOIN w x ON x.doc_id = cand.doc_a
        |  JOIN w y ON y.doc_id = cand.doc_b)
        |SELECT doc_a, doc_b, n_agree_full, n_agree_bit,
        |       CAST(n_agree_full * 1000000 // 128 AS BIGINT) AS est_full_ppm,
        |       CAST((2 * n_agree_bit - 128) * 1000000 // 128 AS BIGINT)
        |         AS est_bit_ppm,
        |       CAST((2 * n_agree_bit - 128) * 1000000 // 128 AS BIGINT)
        |         - CAST(n_agree_full * 1000000 // 128 AS BIGINT) AS gap_ppm
        |FROM scored
        |ORDER BY doc_a, doc_b""").stripMargin,
    // Same per-doc NLL core, same discrete tercile rank rule, same
    // grid rollup.
    "q_ccnet_buckets" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS toks
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (
        |  SELECT doc_id, lang, unnest(list_transform(
        |    range(1, len(toks)), i -> struct_pack(
        |      w1 := toks[i], bgr := toks[i] || ' ' || toks[i + 1]))) AS p
        |  FROM tok),
        |f AS (SELECT doc_id, lang, p.w1 AS w1, p.bgr AS bgr FROM bg),
        |bc AS (SELECT bgr, count(*) AS bc FROM f WHERE lang = 'en'
        |       GROUP BY bgr),
        |uc AS (SELECT w1, count(*) AS uc FROM f WHERE lang = 'en'
        |       GROUP BY w1),
        |v AS (SELECT count(DISTINCT w1) AS v FROM f WHERE lang = 'en'),
        |occ AS (
        |  SELECT doc_id, lang, w1, bgr, count(*) AS occ
        |  FROM f GROUP BY doc_id, lang, w1, bgr),
        |cost AS (
        |  SELECT o.doc_id, o.lang, o.occ,
        |         CAST(floor(ln(
        |           CAST(coalesce(uc.uc, 0) + v.v AS DOUBLE) /
        |           CAST(coalesce(bc.bc, 0) + 1 AS DOUBLE)) * 1000000.0)
        |           AS BIGINT) AS cost_micro
        |  FROM occ o
        |  LEFT JOIN bc ON o.bgr = bc.bgr
        |  LEFT JOIN uc ON o.w1 = uc.w1
        |  CROSS JOIN v),
        |a AS (
        |  SELECT doc_id, lang, CAST(sum(occ) AS BIGINT) AS n_bigrams,
        |         CAST(sum(occ * cost_micro) AS BIGINT) AS ce_micro
        |  FROM cost GROUP BY doc_id, lang),
        |d AS (
        |  SELECT doc_id, lang, n_bigrams,
        |         CAST(ce_micro // n_bigrams AS BIGINT) AS avg_nll_micro
        |  FROM a),
        |r AS (
        |  SELECT *,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY avg_nll_micro, doc_id) AS BIGINT) AS r,
        |         CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM d),
        |b AS (
        |  SELECT lang,
        |         CASE WHEN r * 3 <= n THEN 'head'
        |              WHEN r * 3 <= 2 * n THEN 'middle'
        |              ELSE 'tail' END AS bucket,
        |         avg_nll_micro, n_bigrams
        |  FROM r)
        |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(avg_nll_micro) AS min_nll_micro,
        |       max(avg_nll_micro) AS max_nll_micro,
        |       CAST(sum(n_bigrams) AS BIGINT) AS token_mass
        |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    // Same regex token rule, same decimal-routed sums and truncating
    // ppm ratios.
    "q_tokenizer_fertility" ->
      """WITH d AS (
        |  SELECT lang,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
        |         CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
        |           AS re,
        |         n_chars
        |  FROM documents),
        |g AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(ws) AS BIGINT) AS n_ws_tokens,
        |         CAST(sum(re) AS BIGINT) AS n_re_tokens,
        |         CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM d GROUP BY lang)
        |SELECT lang, n_docs, n_ws_tokens, n_re_tokens,
        |       CAST(CAST(n_re_tokens AS HUGEINT) * 1000000 // n_ws_tokens
        |            AS BIGINT) AS fertility_ppm,
        |       CAST(CAST(sum_chars AS HUGEINT) * 1000000 // n_re_tokens
        |            AS BIGINT) AS chars_per_token_ppm
        |FROM g ORDER BY lang""".stripMargin,
    "q_bpe_pair_counts" ->
      """WITH wf AS (
        |  SELECT w, count(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) >= 2 GROUP BY w),
        |p AS (
        |  SELECT unnest(list_transform(range(1, length(w)),
        |           i -> substr(w, CAST(i AS INT), 2))) AS pair, freq
        |  FROM wf)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS n_occurrences
        |FROM p GROUP BY pair
        |ORDER BY n_occurrences DESC, pair LIMIT 20""".stripMargin)
}
