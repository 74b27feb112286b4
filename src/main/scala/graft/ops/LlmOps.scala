package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.Det._
import graft.functions.PortableHashes

/** Group 3 — LLM-training-data-pipeline operators over `documents` and
  * `embeddings` (SURVEY.md §2.C group 3; north-star mandate). The
  * reference has no analog — these are the extensions a 100 TB corpus
  * pipeline needs: dedup (exact + MinHash-LSH), similarity search
  * (cosine top-k, kNN), text statistics, multimodal nested projection.
  *
  * Design rules, all enforced here:
  *  - pure Catalyst column expressions / higher-order functions — no
  *    UDFs, so every op stays inside whole-stage codegen and remains
  *    DuckDB-oracle comparable;
  *  - nothing all-pairs: near-dup candidates come from an LSH band
  *    equi-join (shuffle on (band, sig)), similarity search broadcasts
  *    a bounded query set against a streamed candidate scan;
  *  - cross-engine hash parity via sha256: both engines compute
  *    `bigint(hex[0:15] of sha256(s))` identically, so even the
  *    MinHash signatures are oracle-checkable (most engines give up
  *    here because their builtin `hash` differs).
  */
object LlmOps {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  // ------------------------------------------------------------ text stats

  /** Per-(lang, source) corpus statistics: doc counts, token counts,
    * length distribution. One scan + one partial-agg shuffle on the
    * (lang, source) key — the canonical 100 TB corpus-profiling shape. */
  def textStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("lang"), col("source"),
        length(col("text")).cast("long").as("chars"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_tokens"),
        r6(avg(col("toks"))).as("avg_tokens"),
        r6(avg(col("chars"))).as("avg_chars"),
        sum(col("chars")).as("total_chars"))
      .orderBy("lang", "source")

  /** Corpus language distribution with shares — the profiling query a
    * data curation pass starts from. Share denominators are corpus
    * row counts (powers of 10 × small factors), whose ratios have
    * short decimal expansions — r6-tie-safe. */
  def textLangdist(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("total_chars"))
      // share base = empty-frame window over the AGGREGATED rows (one
      // row per lang) — no driver-side action, no scale concern
      .withColumn("doc_share", r6(col("n_docs") /
        sum(col("n_docs")).over(Window.partitionBy()).cast("double")))
      .orderBy("lang")

  // ----------------------------------------------------------------- dedup

  /** Exact dedup by content hash: groupBy(sha256(text)), keep the
    * smallest doc_id per group. min/count are map-side combinable, so
    * at 100 TB this is one combine-enabled shuffle on the 256-bit hash
    * (uniform keys — no skew by construction). */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), sha2(col("text"), 256).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(
        min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_copies"))
      .orderBy("keep_doc_id")

  /** The dedup FILTER: the surviving corpus after exact dedup —
    * keep-first (min doc_id) per content hash, joined back so the
    * output is actual document rows, not group stats. The join key is
    * (hash, min_id), both combine map-side; no row explosion. */
  def dedupCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        sha2(col("text"), 256).as("h"))
    val keepers = docs.groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    docs.join(keepers, Seq("h", "doc_id"))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** Normalization-exact dedup (C4-style "fuzzy exact" matching):
    * documents are canonicalized — lowercase, non-alphanumerics to
    * spaces, whitespace collapsed, trimmed — before hashing, so
    * case / punctuation / spacing variants collapse into one group
    * where byte-exact dedup sees distinct rows. The gate corpus
    * plants no normalization variants, so the query unions a
    * deterministically perturbed copy (ids offset by 1e6; three
    * perturbation classes by doc_id mod 3: uppercase+punctuation,
    * comma/double-space injection, edge padding — the same
    * deterministic-injection pattern as q_pii_redact) and proves
    * every perturbed row folds back onto its original: the regex
    * canonicalization parity is exercised for real instead of 0 == 0.
    * Scale shape identical to q_exact_dedup: normalization is a
    * scan-side projection, then one combine-enabled shuffle on the
    * uniform content hash. */
  def dedupNormalized(s: SparkSession, dir: String): DataFrame =
    noisedCorpus(s, dir)
      .select(col("doc_id"), normalizedHash(col("text")).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        max(col("doc_id")).as("max_member"),
        count(lit(1)).as("n_members"))
      .select(col("keep_doc_id"), col("max_member"), col("n_members"))
      .orderBy("keep_doc_id")

  /** The corpus ∪ a deterministically perturbed copy (ids + 1e6;
    * three noise classes by doc_id mod 3) — shared by
    * [[dedupNormalized]] and [[dedupCascade]] so the planted
    * normalization variants can't drift between the two. */
  private def noisedCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val noised = docs.select(
      (col("doc_id") + lit(1000000L)).as("doc_id"),
      when(col("doc_id") % 3 === 0, concat(upper(col("text")), lit("!!")))
        .when(col("doc_id") % 3 === 1,
          regexp_replace(col("text"), " ", "  ,  "))
        .otherwise(concat(lit("  "), col("text"), lit("  "))).as("text"))
    docs.unionByName(noised)
  }

  /** C4-style canonicalization hash: lowercase, non-alphanumerics to
    * spaces, whitespace collapsed, trimmed, sha256'd. */
  private def normalizedHash(text: Column): Column =
    sha2(trim(regexp_replace(regexp_replace(
      lower(text), "[^a-z0-9 ]", " "), " +", " ")), 256)

  /** Near-dup cluster size distribution — the dedup IMPACT report: a
    * corpus with many size-2 clusters has scattered duplication; a
    * few giant clusters mean template content, and (csize − 1) docs
    * per cluster are what keep-first dedup deletes. Two combine aggs
    * stacked on the connected-components output; the histogram is
    * O(max cluster size) rows. */
  def clusterStats(s: SparkSession, dir: String): DataFrame =
    dedupClusters(s, dir)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("csize"))
      .groupBy(col("csize")).agg(count(lit(1)).as("n_clusters"),
        sum(col("csize")).cast("long").as("n_docs"))
      .orderBy("csize")

  /** PageRank over the near-dup graph (3 power iterations, d = 0.85)
    * — centrality finds the template/boilerplate HUBS: a document
    * near-duplicating many others concentrates mass, which
    * keep-first dedup and degree counting both miss (degree sees
    * local fan-out; PageRank sees transitive reach). All arithmetic
    * is integer: mass lives in units of 1e-12 (pr0 = 1e12 div N),
    * neighbor contributions are `pr div deg`, and damping is
    * `85 · inflow div 100` — integer div truncates toward zero in
    * both engines, so three unrolled iterations hash-match with no
    * floating sums to order. Scale shape: per iteration one edge
    * join + one combine sum keyed on the node — the same per-round
    * cost as connectedComponents, with the iteration count FIXED
    * (power iteration, not convergence-bound). */
  def dedupPagerank(s: SparkSession, dir: String): DataFrame = {
    // checkpointed: the edge frame rides every one of the 3 power
    // iterations (plus the degree/node aggs), and multi-referenced
    // subplans re-execute (no CSE) — unpinned, the LSH banding
    // re-derives once per iteration
    val pairs = sharedOrCheckpointed(s, dir).select(col("doc_a"), col("doc_b"))
    val e = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val nodes = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
    var pr = nodes.crossJoin(broadcast(nodes.agg(count(lit(1)).as("n"))))
      .select(col("id"), col("deg"), col("n"),
        expr("1000000000000 div n").as("pr_u"))
    (1 to 3).foreach { _ =>
      val contrib = e
        .join(pr.select(col("id").as("src"), col("deg").as("sdeg"),
          col("pr_u").as("spr")), "src")
        .select(col("dst").as("id"), expr("spr div sdeg").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).cast("long").as("inflow"))
      pr = pr.join(contrib, Seq("id"), "left")
        .select(col("id"), col("deg"), col("n"),
          (expr("150000000000 div n") +
            expr("85 * coalesce(inflow, 0L) div 100")).as("pr_u"))
    }
    pr.select(col("id").as("doc_id"), col("deg"), col("pr_u"))
      .orderBy("doc_id")
  }

  /** The curation pipeline as ONE composed DAG — quality filter →
    * normalization dedup (keep-first) → deterministic stratified cap
    * → per-language corpus stats. Each stage exists as its own
    * oracled operator; this query proves they compose in a single
    * plan the optimizer can see end-to-end (the quality projection
    * and filter stay on the scan, the dedup window and the stratum
    * window are the only data-scaled shuffles, and the final agg
    * rides the stratum partitioning's tiny survivor set). The
    * composition is what a real user runs: nobody materializes four
    * intermediate corpora to curate one. Threshold 600000 keeps
    * ~80% of docs at every SF (calibrated in DuckDB across
    * sf0.001/0.01/0.1); the cap takes 30 per language by portable-
    * hash order, so membership is stable under corpus growth. */
  def curationPipeline(s: SparkSession, dir: String): DataFrame = {
    val stop = expr("size(filter(toks, x -> x IN ('a','the','of','and','in'))) / cast(size(toks) as double)")
    val ttr = expr("size(array_distinct(toks)) / cast(size(toks) as double)")
    val scored = t(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("lang"),
        size(col("toks")).cast("long").as("n_tokens"),
        floor((
          lit(0.4) * least(size(col("toks")).cast("double") / lit(100.0), lit(1.0)) +
          lit(0.3) * (lit(1.0) - stop) +
          lit(0.3) * ttr) * lit(1000000.0)).as("quality_u"),
        sha2(trim(regexp_replace(regexp_replace(
          lower(col("text")), "[^a-z0-9 ]", " "), " +", " ")), 256).as("nh"))
      .where(col("quality_u") >= 600000L)
    val dedupW = Window.partitionBy(col("nh")).orderBy(col("doc_id"))
    val stratW = Window.partitionBy(col("lang"))
      .orderBy(PortableHashes.hash(col("doc_id").cast("string")) % 1000L, col("doc_id"))
    scored
      .withColumn("dr", row_number().over(dedupW)).where(col("dr") === 1)
      .withColumn("sr", row_number().over(stratW)).where(col("sr") <= 30)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("sum_tokens"),
        sum(col("quality_u")).cast("long").as("sum_quality_u"))
      .orderBy("lang")
  }

  /** MinHash-LSH near-dup candidates (bands=8, rows/band=1) over word
    * 3-gram shingles. Each shingle is sha-hashed ONCE; the 8 band hash
    * functions are derived arithmetically (universal hashing mod
    * 2^31-1: h_b = (h*(b+1) + 37b+101) mod p) — sha256 is the
    * dominant per-row cost and Spark's interpreted Sha2 does a
    * MessageDigest provider lookup per call, so the one-sha-per-
    * shingle + integer-band scheme is 8x cheaper than hashing
    * (band:shingle) directly, with identical LSH behavior. Candidate
    * pairs = docs equi-joined on (band, sig) — the LSH banding trick
    * (Broder; see PAPERS.md): the only shuffle is on band signatures,
    * never an all-pairs product. Output: candidate pair + how many of
    * the 8 bands agree. The repartition normalizes the driver
    * testdata's single parquet split so hash work parallelizes; at
    * real scale the scan has many splits and the hash cost dwarfs it. */
  /** The (doc_id, band, sig) LSH band-signature frame shared by the
    * minhash family: word 3-gram shingles → one codegen'd sha per
    * shingle → 8 arithmetically-derived band minima → exploded band
    * rows. Per-doc array pipeline, deliberately SHUFFLE-FREE until a
    * consumer's band join. */
  private def bandedSigs(s: SparkSession, dir: String): DataFrame =
    bandedSigsOf(s, t(s, dir, "documents"))

  /** [[bandedSigs]] over an arbitrary (doc_id, text) frame — the
    * cascade's tier-3 input is a filtered corpus, not the table. */
  private def bandedSigsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    val nBands = 8
    // (The explode→groupBy(doc_id) reformulation was tried and benched
    // 2.3x slower — it inserts a full shuffle of every shingle row just
    // to regroup what was already grouped; the one-sha-per-shingle HOF
    // cost does not dominate here, unlike simhash's 32-fold case.)
    val shingled = Tables.spread(s, docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 3))
      .select(col("doc_id"), expr(
        """transform(sequence(1, size(toks) - 2),
          |  i -> concat(element_at(toks, i), ' ',
          |              element_at(toks, i + 1), ' ',
          |              element_at(toks, i + 2)))""".stripMargin).as("shingles"))
      .select(col("doc_id"),
        // native codegen'd hashing: transform-lambda bodies always run
        // interpreted, and interpreted Sha2 re-resolves the digest
        // provider per call (PortableHashes scaladoc; same values)
        graft.functions.PortableHashes.hashes(
          col("shingles"), 2147483647L).as("hs"))
    shingled
      .select(col("doc_id"),
        graft.functions.MinhashSigs.sigs(col("hs"), nBands).as("sigs"))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, ${nBands - 1}), b -> struct(
           |  b AS band, element_at(sigs, b + 1) AS sig))""".stripMargin)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  def minhashDedup(s: SparkSession, dir: String): DataFrame = {
    val banded = bandedSigs(s, dir)
    val left = banded.select(col("band"), col("sig"), col("doc_id").as("doc_a"))
    val right = banded.select(col("band"), col("sig"), col("doc_id").as("doc_b"))
    left.join(right, Seq("band", "sig"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .orderBy("doc_a", "doc_b")
  }

  /** Incremental (delta-vs-corpus) near-dup admission — the shape
    * every production pipeline actually runs daily: today's arrivals
    * are checked against the STANDING corpus index, never
    * corpus×corpus. The delta is hash-defined (portable hash of
    * doc_id ≡ 0 mod 10, ~10% of documents — both engines draw the
    * same batch); each delta doc joins the full band-signature frame
    * on (band, sig) and is admitted unless it collides with a corpus
    * doc (dup_corpus) or an earlier doc of its own batch (dup_delta —
    * keep-first within the arrival). Short docs (< 3 tokens, no
    * shingles) admit with zero partners via the left join. A partner
    * must agree on ≥ 2 of the 8 bands — the band-agreement (estimated
    * Jaccard ≈ agreement/bands) threshold production dedup applies,
    * without which a dense corpus marks nearly every arrival dup on
    * a single-band coincidence (observed at sf0.1: 499/500 at ≥ 1
    * band vs a meaningful mix at ≥ 2).
    *
    * Scale shape: Catalyst pushes the delta predicate into the left
    * branch's scan, so the LSH join is delta×index — the probe side
    * is |delta| bands, the output is bounded by the delta's LSH
    * collisions, and nothing all-pairs exists anywhere. The standing
    * corpus side is re-derived in-plan here (driver parquet is the
    * only input); a production deployment materializes the band index
    * once and appends each day's delta bands to it, making the daily
    * cost |delta|·(hash + probe). The pair agg and partner counts
    * ride the candidate-pair frame only. */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val minBands = 2
    val isDelta = (c: Column) => PortableHashes.hash(c.cast("string")) % 10L === 0L
    val banded = bandedSigs(s, dir)
    val delta = banded.where(isDelta(col("doc_id")))
      .select(col("band"), col("sig"), col("doc_id").as("doc_a"))
    val all = banded.select(col("band"), col("sig"),
      col("doc_id").as("doc_b"), isDelta(col("doc_id")).as("delta_b"))
    val pairs = delta.join(all, Seq("band", "sig"))
      .where(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("delta_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .where(col("n_shared_bands") >= minBands)
    val counts = pairs.groupBy(col("doc_a"))
      .agg(
        sum(when(!col("delta_b"), 1L).otherwise(0L)).as("n_corpus_partners"),
        sum(when(col("delta_b") && col("doc_b") < col("doc_a"), 1L)
          .otherwise(0L)).as("n_prior_delta_partners"))
    t(s, dir, "documents")
      .where(isDelta(col("doc_id")))
      .select(col("doc_id"))
      .join(counts, col("doc_id") === col("doc_a"), "left")
      .select(col("doc_id"),
        coalesce(col("n_corpus_partners"), lit(0L)).as("n_corpus_partners"),
        coalesce(col("n_prior_delta_partners"), lit(0L))
          .as("n_prior_delta_partners"))
      .withColumn("verdict",
        when(col("n_corpus_partners") > 0L, lit("dup_corpus"))
          .when(col("n_prior_delta_partners") > 0L, lit("dup_delta"))
          .otherwise(lit("admit")))
      .orderBy("doc_id")
  }

  /** Tiered dedup cascade — the "onion" every production corpus runs,
    * cheapest tier first so each stage sees only the previous stage's
    * survivors: (1) byte-exact content hash, (2) C4-style normalized
    * hash ([[normalizedHash]]), (3) MinHash-LSH near-dup (≥ 2/8 band
    * agreement, the q_dedup_incremental threshold; a doc drops when
    * any SMALLER-id tier-2 survivor collides — the one-pass greedy
    * rule; full transitive keep-one-per-component is q_dedup_clusters'
    * job). Input is [[noisedCorpus]] so tier 2 provably fires (the raw
    * corpus plants no normalization variants). Output is the funnel
    * report — per tier: docs in, removed, surviving — the numbers a
    * curation run publishes after every ingest.
    *
    * Scale shape: tiers 1–2 are one window shuffle each on a uniform
    * content hash (same shape as q_exact_dedup); tier 3 is the
    * LSH band join over survivors only (collision-bounded, never
    * all-pairs); the funnel itself is four 1-row counts cross-joined —
    * every data-scaled structure is a hash shuffle or a band join. */
  def dedupCascade(s: SparkSession, dir: String): DataFrame = {
    // One labeled frame instead of four counted tier branches: the
    // min-doc_id of a normalized-hash class is necessarily also the
    // min of its own byte-hash class (the nh class is a union of eh
    // classes), so nr = 1 ⇒ er = 1 and both keep-first tiers rank on
    // the SAME frame — the naive formulation (count each tier's
    // survivor chain separately) re-derives the chain once per count
    // (4 recomputations, 12 hash exchanges; this shape: 7).
    val c0 = noisedCorpus(s, dir)
    val exactW = Window.partitionBy(col("eh")).orderBy(col("doc_id"))
    val normW = Window.partitionBy(col("nh")).orderBy(col("doc_id"))
    val f = c0
      .withColumn("eh", sha2(col("text"), 256))
      .withColumn("nh", normalizedHash(col("text")))
      .withColumn("er", row_number().over(exactW))
      .withColumn("nr", row_number().over(normW))
    val s2 = f.where(col("nr") === 1).select(col("doc_id"), col("text"))
    val banded = bandedSigsOf(s, s2)
    val left = banded.select(col("band"), col("sig"), col("doc_id"))
    val right = banded.select(col("band"), col("sig"),
      col("doc_id").as("doc_prior"))
    val dropped = left.join(right, Seq("band", "sig"))
      .where(col("doc_prior") < col("doc_id"))
      .groupBy(col("doc_id"), col("doc_prior"))
      .agg(count(lit(1)).as("nb"))
      .where(col("nb") >= 2)
      .select(col("doc_id"), lit(1L).as("d3")).distinct()
    f.join(dropped, Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n0"),
        sum(when(col("er") > 1, 1L).otherwise(0L)).as("rm1"),
        sum(when(col("er") === 1 && col("nr") > 1, 1L).otherwise(0L))
          .as("rm2"),
        sum(when(col("nr") === 1 && col("d3").isNotNull, 1L).otherwise(0L))
          .as("rm3"))
      .selectExpr(
        """stack(3,
          |  '1_exact', n0, rm1, n0 - rm1,
          |  '2_normalized', n0 - rm1, rm2, n0 - rm1 - rm2,
          |  '3_neardup', n0 - rm1 - rm2, rm3, n0 - rm1 - rm2 - rm3)
          |  as (tier, n_in, n_removed, n_out)""".stripMargin)
      .orderBy("tier")
  }

  /** Triangle census + global clustering coefficient over the near-dup
    * candidate graph — the graph-shape diagnostic that distinguishes
    * template farms (near-cliques: high closure) from chains of
    * borderline matches (low closure) before trusting transitive
    * cluster dedup. Edges are [[minhashDedup]]'s candidate pairs
    * (canonical u < v); triangles count via the standard two-join
    * ordered enumeration (u < v < w, each triangle found exactly
    * once); wedges come from the degree frame, and closure ships as
    * exact ppm (3·triangles / wedges, truncating division,
    * `greatest(…, 1)` guarding the empty graph).
    *
    * Scale shape: this is the canonical distributed triangle count —
    * two shuffle joins keyed on node ids over the CANDIDATE edge list
    * (bounded by LSH collisions, never |corpus|²); the ordered (u<v<w)
    * form keeps the wedge join from materializing each triangle 6×.
    * Degree/wedge stats are one combine agg, output is one row. */
  def triangleCount(s: SparkSession, dir: String): DataFrame =
    // checkpointed: triangleStats references the edge frame five times
    // (wedge join ×2, closure join, degree union, edge count) and
    // multi-referenced subplans re-execute — unpinned, the LSH
    // banding re-derives per reference
    triangleStats(
      sharedOrCheckpointed(s, dir).select(col("doc_a").as("u"), col("doc_b").as("v")))

  /** Common-neighbor link scoring over the near-dup graph — the
    * edge-pruning refinement (SlimPajama-style) that separates true
    * near-dup clusters from single-band LSH coincidences: a candidate
    * pair supported by many shared neighbors is almost surely a real
    * duplicate relation; a pair with zero common neighbors and low
    * degree is a band collision worth re-verifying. Emits per
    * candidate edge the common-neighbor count, endpoint degrees, and
    * neighbor-set Jaccard in exact ppm (den = deg_a + deg_b − 2 −
    * common — both endpoints excluded from each other's sets since
    * the pair is itself an edge).
    *
    * Scale shape: the wedge join costs Σ_m deg(m)² over the CANDIDATE
    * graph — the q_triangle_count physics: LSH components are small
    * near-cliques, so per-middle-node work is bounded by the dedup
    * cluster size, never corpus²; degrees and wedge counts are
    * combine aggs keyed on nodes/pairs. The edge frame is derived
    * ONCE and checkpointed (the connectedComponents discipline —
    * reliable on clusters, local in gate runs): it is referenced six
    * times here, and Spark's no-CSE self-joins would otherwise
    * re-run the LSH banding per reference. */
  def commonNeighbors(s: SparkSession, dir: String): DataFrame =
    commonNeighborsOf(sharedOrCheckpointed(s, dir))

  /** Session-scoped materialization of the LSH candidate-pair frame —
    * the 100 TB shape for the whole graph family. The per-query oracle
    * contract makes each graph query re-derive [[minhashDedup]]'s
    * pairs in-plan (driver parquet is the only input); a real
    * deployment derives the candidate frame ONCE per corpus snapshot,
    * pins it ([[graft.Tables.pin]]), and runs
    * clusters/pagerank/triangles/reach/consensus against the
    * materialized frame. SharedCandidateFrameSpec measures the saving
    * and pins answer-identity vs the re-deriving forms. */
  def candidateFrame(s: SparkSession, dir: String): DataFrame =
    Tables.pin(minhashDedup(s, dir))

  /** Conf-gated STANDING candidate frame (r9, VERDICT item 2): with
    * `spark.graft.dedup.materialize=true` the whole graph family
    * (clusters / cluster_stats / pagerank / triangles / reach /
    * consensus / common_neighbors / degree / clustering_coeff, plus
    * quality_vs_dup's membership probe) consults ONE session-scoped
    * materialized pair frame per (session, corpus dir) instead of
    * re-deriving the LSH banding in-plan per query — the 100 TB
    * deployment shape the README ceiling describes, now a switch
    * rather than prose. Default off: the oracle contract's
    * no-cross-query-materialization policy stays the gate behavior,
    * and results are row-identical either way
    * (SharedCandidateFrameSpec pins identity + measured deltas).
    * Cache is keyed by the session REFERENCE (default object
    * identity — two live sessions can never share a key, unlike the
    * r9 identityHashCode key, which can collide and hand one session
    * a frame bound to another), so a new session (or a new corpus
    * dir) re-derives; snapshot semantics are the caller's contract,
    * exactly as a materialized table's would be. Entries whose
    * owning context has stopped are purged on access, so a stopped
    * session's checkpoint blocks are not pinned for the JVM
    * lifetime. */
  private val standingPairs =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      DataFrame]()

  private[graft] def materializeOn(s: SparkSession): Boolean =
    s.conf.getOption("spark.graft.dedup.materialize").contains("true")

  def sharedPairs(s: SparkSession, dir: String): DataFrame =
    if (materializeOn(s)) {
      standingPairs.keySet.removeIf(_._1.sparkContext.isStopped)
      standingPairs.computeIfAbsent((s, dir),
        _ => candidateFrame(s, dir))
    } else minhashDedup(s, dir)

  /** As [[sharedPairs]] but falling back to a per-query checkpoint —
    * for the operators that reference the edge frame many times and
    * therefore ALWAYS need a materialization barrier. */
  private def sharedOrCheckpointed(s: SparkSession, dir: String): DataFrame =
    if (materializeOn(s)) sharedPairs(s, dir) else candidateFrame(s, dir)

  /** Wedge-expansion degree cap (r10, VERDICT r9 item 1): the wedge
    * join's per-middle-node work is deg(m)² — UNBOUNDED in duplication
    * density (the sf10 probe measured Σdeg² = 3.1e12 at 100×
    * density; sf1's 3.07e9 was already heap-marginal at uniform
    * knobs). Capping each middle node's neighbor list at the first
    * `CnMaxDegree` neighbors in neighbor-id order (the SlimPajama
    * edge-pruning practice) bounds per-task wedge state at
    * |nodes|·D² for ANY density; truncation is NEVER silent — the
    * output carries `trunc_nodes`, the count of nodes whose
    * adjacency was cut. 128 sits above every observed degree at the
    * gate SFs (max 10 / 10 / 66 at sf0.001/0.01/0.1 — results there
    * are bit-identical to the uncapped form) and cuts sf1's wedge
    * mass 4.2× (3.07e9 → 7.35e8). */
  val CnMaxDegree = 128

  /** [[commonNeighbors]] over an already-materialized candidate frame
    * (doc_a, doc_b[, …]) — the edge frame is referenced six times
    * here, and Spark's no-CSE self-joins would re-run the LSH banding
    * per reference were it not checkpointed. The wedge expansion runs
    * over the [[CnMaxDegree]]-capped adjacency (`common` counts
    * middles that keep BOTH endpoints in their capped lists);
    * endpoint degrees and the Jaccard denominator stay exact. The
    * rank ≤ D filter plans as a WindowGroupLimit — each map task
    * prunes to the first D neighbors per node BEFORE the exchange. */
  def commonNeighborsOf(pairsFrame: DataFrame): DataFrame = {
    val e = pairsFrame.select(col("doc_a").as("u"), col("doc_b").as("v"))
    val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    // capped adjacency of the MIDDLE node: row (m, n) = n is among
    // m's first CnMaxDegree neighbors in ascending-id order —
    // deterministic (edges are distinct), replicated in the oracle
    val rnW = Window.partitionBy(col("u")).orderBy(col("v"))
    val undCap = und.withColumn("__cn_rn", row_number().over(rnW))
      .where(col("__cn_rn") <= CnMaxDegree).drop("__cn_rn")
    val wedges = undCap.toDF("m", "a").join(undCap.toDF("m", "b"), "m")
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
    val trunc = deg.agg(
      sum(when(col("deg") > CnMaxDegree, 1L).otherwise(0L))
        .cast("long").as("trunc_nodes"))
    e.toDF("a", "b")
      .join(wedges, Seq("a", "b"), "left")
      .na.fill(0L, Seq("common"))
      .join(deg.toDF("a", "deg_a"), "a")
      .join(deg.toDF("b", "deg_b"), "b")
      .crossJoin(broadcast(trunc))
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("common"), col("deg_a"), col("deg_b"),
        when(col("deg_a") + col("deg_b") - 2L - col("common") > 0L,
          expr("""1000000 * cast(common as decimal(38,0))
            div (deg_a + deg_b - 2 - common)""").cast("long"))
          .otherwise(lit(0L)).as("cn_jaccard_ppm"),
        col("trunc_nodes"))
      .orderBy("doc_a", "doc_b")
  }

  /** Bounded-depth BFS reachability over the near-dup graph via
    * Spark 4's `WITH RECURSIVE` — the SQL-surface route to iterative
    * graph queries ([[connectedComponents]] is the programmatic
    * driver-loop twin): minimum hop distance from the seed documents
    * (graph members with doc_id < 20) to everything within 3 hops.
    * "How far does contamination spread from these known-bad docs"
    * is the curation question this answers.
    *
    * Scale shape: each recursion level is ONE join of the frontier
    * against the edge list plus a DISTINCT — level width is bounded
    * by |reachable docs|, never by walk count (an undeduplicated
    * UNION ALL recursion would enumerate every path through the
    * near-clique LSH clusters); depth is a fixed bound, so the plan
    * is 3 unrolled join+distinct rounds over the CANDIDATE edge
    * list. */
  def recursiveReach(s: SparkSession, dir: String): DataFrame = {
    // Statically unrolled BFS. This op shipped as a Spark 4
    // `WITH RECURSIVE` CTE (the SQL-surface route — see the oracle,
    // which still uses it); measured at sf0.1 the UnionLoop executor
    // cost ~1 s per level on a 7k-edge graph (each iteration re-plans
    // and re-compiles its step), dwarfing the actual data work. The
    // depth bound is a fixed literal (3), so the recursion unrolls
    // EXACTLY into 3 join+distinct rounds — the same frontier
    // semantics (each level derives from the previous level's rows
    // only, min(depth) folds re-visits), one plan, one codegen pass.
    // The edge frame is checkpointed: it is referenced by the seed
    // filter and every level — unpinned, each reference re-derives
    // the whole LSH banding subplan.
    val pairs = sharedOrCheckpointed(s, dir)
      .select(col("doc_a"), col("doc_b"))
    val und = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val seeds = und.where(col("src") < 20)
      .select(col("src").as("doc_id")).distinct()
      .withColumn("depth", lit(0))
    val levels = (1 to 3).scanLeft(seeds) { (frontier, d) =>
      frontier.join(und, frontier("doc_id") === und("src"))
        .select(col("dst").as("doc_id")).distinct()
        .withColumn("depth", lit(d))
    }
    levels.reduce(_.unionAll(_))
      .groupBy(col("doc_id"))
      .agg(min(col("depth")).cast("bigint").as("hops"))
      .orderBy("doc_id")
  }

  /** Multi-signal near-duplicate consensus: every candidate pair any
    * of the three independent detectors fires on — lexical MinHash-LSH
    * bands, bit-level SimHash hamming, semantic SRP-bucketed cosine
    * (documents and embeddings share the id space) — with per-signal
    * flags and the agreement count. This is how production dedup
    * decides what to trust: pairs all three signals agree on are
    * near-certain duplicates; single-signal pairs get the cheap
    * verify pass (q_ngram_jaccard's role). Each family is the
    * standalone operator reused verbatim, and the oracle embeds the
    * three declared oracles, so the consensus view can never drift.
    *
    * Scale shape: the three candidate generators are each LSH-bounded
    * (never all-pairs); the consensus itself is two full-outer joins
    * over CANDIDATE-PAIR frames — volume set by band collisions, not
    * corpus size. */
  def dedupConsensus(s: SparkSession, dir: String): DataFrame = {
    val lex = sharedPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), lit(true).as("lex"))
    val simh = TextOps.simhashDedup(s, dir)
      .select(col("doc_a"), col("doc_b"), lit(true).as("simh"))
    val emb = VectorOps.embeddingNeardup(s, dir)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"),
        lit(true).as("emb"))
    lex.join(simh, Seq("doc_a", "doc_b"), "full_outer")
      .join(emb, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("lex"), lit(false)).as("lex"),
        coalesce(col("simh"), lit(false)).as("simh"),
        coalesce(col("emb"), lit(false)).as("emb"))
      .withColumn("n_signals",
        when(col("lex"), 1L).otherwise(0L) +
          when(col("simh"), 1L).otherwise(0L) +
          when(col("emb"), 1L).otherwise(0L))
      .orderBy("doc_a", "doc_b")
  }

  /** The triangle census core over a canonical (u < v) edge list —
    * TriangleSpec pins the counts on hand-built graphs (clique, path)
    * so the ordered-enumeration joins can't silently over- or
    * under-count. */
  private[graft] def triangleStats(edges: DataFrame): DataFrame = {
    val e = edges.toDF("u", "v")
    val wedge = e.join(e.toDF("v", "w"), "v")
    val tri = wedge.join(e.toDF("u", "w"), Seq("u", "w"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = e.select(col("u").as("node")).union(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val st = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).cast("long").as("n_wedges"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    st.crossJoin(ne).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        expr("1000000 * 3 * cast(n_triangles as decimal(38,0)) div greatest(n_wedges, 1)")
          .as("closure_ppm"))
  }

  // ------------------------------------------------------ similarity search

  /** Embeddings with a precomputed L2 norm (computed once per vector,
    * not once per pair — the dominant cost at scale). Norms and dots
    * use the native codegen'd ArrayDotProduct expression — the HOF
    * formulation evaluates interpreted (same IEEE result, ~40x the
    * cost on the pair loop). */
  private def withNorm(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.array_dot
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"),
        sqrt(array_dot(col("embedding"), col("embedding"))).as("norm"))
  }

  /** (query, candidate) cosine pairs for a bounded query set. The
    * query side (20 vectors — fixed, independent of sf) is broadcast;
    * candidates stream through one scan with no shuffle. Cosine is a
    * zip_with/aggregate fold in doubles (codegen'd, left-to-right —
    * bit-identical to the oracle's list_reduce), rounded to 6 decimals
    * so downstream ranking is stable cross-engine. */
  private def cosinePairs(s: SparkSession, dir: String): DataFrame = {
    val base = withNorm(s, dir)
    val queries = base
      .where(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val cands = base.select(col("vec_id").as("cid"), col("embedding").as("c_emb"),
      col("label"), col("norm").as("c_norm"))
    import graft.functions.GraftFunctions.array_dot
    cands.crossJoin(broadcast(queries))
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("label"),
        r6(array_dot(col("q_emb"), col("c_emb")) /
          (col("q_norm") * col("c_norm"))).as("cos"))
  }

  /** Brute-force cosine top-k (k=5) per query vector — the exactness
    * baseline for ANN. Scale path: broadcast query block × candidate
    * scan, then per-query top-k. (For huge query sets the LSH/IVF
    * bucketed variant replaces the broadcast — see q_minhash_dedup's
    * band join for the pattern.) */
  def cosineTopk(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    cosinePairs(s, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("cid"), col("cos"))
      .orderBy("qid", "rn")
  }

  /** kNN label vote (k=5): majority label among the top-5 cosine
    * neighbors, ties broken by smaller label. */
  def knnClassify(s: SparkSession, dir: String): DataFrame = {
    val topw = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    val votew = Window.partitionBy(col("qid")).orderBy(col("votes").desc, col("label"))
    cosinePairs(s, dir)
      .withColumn("rn", row_number().over(topw))
      .where(col("rn") <= 5)
      .groupBy(col("qid"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(votew))
      .where(col("vr") === 1)
      .select(col("qid"), col("label").as("pred_label"), col("votes"))
      .orderBy("qid")
  }

  // ------------------------------------------------------------ multimodal

  /** Multimodal record assembly + nested projection: join text docs to
    * their embedding payloads, build struct{doc{...}, media{...}}
    * columns, then project scalar fields back out of the nested
    * structs. Exercises Catalyst's nested-schema pruning: the parquet
    * scan must read only the accessed leaf fields. */
  def multimodalProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .join(t(s, dir, "embeddings"), col("doc_id") === col("vec_id"))
      .select(
        col("doc_id"),
        struct(col("text"), col("lang"), col("source")).as("doc"),
        struct(col("embedding"), col("label")).as("media"))
      .select(
        col("doc_id"),
        col("doc.lang").as("lang"),
        length(col("doc.text")).cast("long").as("text_chars"),
        col("media.label").as("label"),
        size(col("media.embedding")).cast("long").as("emb_dim"),
        r6(element_at(col("media.embedding"), 1).cast("double")).as("emb_first"))
      .orderBy("doc_id")

  /** Connected components over the MinHash candidate pairs: the step
    * between "near-dup pairs" and "dedup decision" — every doc in a
    * component gets the component's smallest doc_id as its cluster id
    * (= the canonical keeper).
    *
    * Distributed min-label propagation: each round, every node takes
    * the min of its own label and its neighbors' labels; converges in
    * diameter(G) rounds (LSH components are near-cliques, so 2-4 in
    * practice). Each round is one shuffle-join; the edge list and each
    * round's labels are checkpointed so the lineage (and the LSH
    * subplan) is materialized once, not replayed per round. Each
    * checkpoint is a [[graft.Tables.pin]]: reliable when the context
    * has a checkpoint dir (survives executor loss), else a local
    * checkpoint whose blocks spill to disk. Graphs whose diameter
    * exceeds the propagation cap (r3 threw here) switch to large-star/small-star
    * contraction — see [[starContract]]. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = sharedPairs(s, dir).select(col("doc_a"), col("doc_b"))
    connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Distributed connected components over an undirected edge list
    * (two columns: endpoint a, endpoint b; isolated nodes absent).
    * Returns (id, lbl) where lbl = smallest node id in the component.
    * See dedupClusters for the algorithm/scale discussion. */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    // propagation needs diameter(G) rounds; past this cap the graph is
    // not the near-clique shape LSH produces, so switch algorithms
    // instead of burning a shuffle-join per extra diameter step
    val propagationCap = 8
    val Seq(ca, cb) = pairs.columns.toSeq.map(pairs.col)
    val edges = Tables.pin(pairs.select(ca, cb)
      .union(pairs.select(cb, ca))
      .toDF("src", "dst"))
    // Seed with least(id, min neighbor) — exactly the state after the
    // first propagation round over identity labels, for the price of
    // the initialization agg the identity seed needed anyway (one
    // fewer join round; near-clique LSH graphs then converge in 1-2).
    var labels = Tables.pin(edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("lbl")))
    var converged = false
    var iter = 0
    while (!converged && iter < propagationCap) {
      val nbrMin = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("nlbl"))
      // change detection fused into the propagation select, and the
      // convergence PROBE fused into the checkpoint job itself
      // (VERDICT r15 item 3): the eager checkpoint already computes
      // every row, so an Observation counts changed labels during
      // that same action — the old `where(chg).limit(1).count()`
      // probe was one extra job (and one extra pass over the pinned
      // frame) per round. Same rows checkpointed, same convergence
      // rule (a NULL chg — no smaller neighbor label — counts as
      // unchanged in both forms).
      val obs = org.apache.spark.sql.Observation(s"cc_changed_$iter")
      val next = Tables.pin(labels.join(nbrMin, labels("id") === nbrMin("dst"), "left")
        .select(labels("id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"),
          (col("nlbl") < col("lbl")).as("chg"))
        .observe(obs, count(when(col("chg"), lit(1))).as("n_changed"))
        .drop("chg"))
      labels = next
      // n_changed is reliable only as zero vs nonzero: with a reliable
      // checkpoint dir, an eager checkpoint runs the plan twice (count
      // job + write job) and the observed count can double
      converged = obs.get("n_changed").asInstanceOf[Long] == 0L
      iter += 1
    }
    if (converged) labels
    else starContract(edges) // high-diameter graph: O(log² n) path
  }

  /** Large-star / small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): alternating edge
    * rewrites that converge in O(log² n) rounds REGARDLESS of graph
    * diameter — the fallback [[connectedComponents]] switches to when
    * plain min-label propagation (diameter rounds) meets a long-path
    * graph.
    *
    * Large-star: every node v > u re-attaches to m(u) = min(Γ⁺(u)).
    * Small-star: every smaller-neighbor a of b re-attaches to
    * m(b) = min of b's smaller neighbors (plus the (b, m(b)) edge).
    * Both preserve connectivity; the fixed point of the alternation is
    * a disjoint union of stars centered at component minima, so the
    * final labels are one min-neighbor aggregation. Each round is two
    * groupBy+join rewrites over a canonical (a < b) distinct edge
    * list; edge count never grows, and every node incident to an edge
    * stays incident throughout (no satellite is ever dropped).
    *
    * Input: the symmetric (src, dst) edge list; every round's edges
    * are pinned ([[graft.Tables.pin]]). */
  private def starContract(symEdges: DataFrame): DataFrame = {
    val maxRounds = 60 // ~2·log₂(n) alternations observed; 60 covers any real n
    var e = Tables.pin(symEdges.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct())
    var stable = false
    var round = 0
    while (!stable && round < maxRounds) {
      // large-star: emit (m(u), v) for every neighbor v > u;
      // m(u) ≤ u < v, so the emitted edge is already canonical
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = Tables.pin(sym.where(col("v") > col("u"))
        .join(mins, "u")
        .select(col("m").as("a"), col("v").as("b"))
        .distinct())
      // small-star: per node b, smaller neighbors S(b) re-attach to
      // m(b) = min(S(b)): emit (m(b), a) for a ∈ S(b)\{m}, + (m(b), b)
      val smallMins = ls.groupBy(col("b").as("sb")).agg(min(col("a")).as("m"))
      val part1 = ls.join(smallMins, ls("b") === col("sb"))
        .where(col("a") =!= col("m"))
        .select(col("m").as("a2"), col("a").as("b2"))
      val part2 = smallMins.select(col("m").as("a2"), col("sb").as("b2"))
      val ss = Tables.pin(part1.union(part2).toDF("a", "b").distinct())
      // fixed point: both rewrites left the (distinct) edge set intact
      stable = ss.count() == e.count() &&
        ss.except(e).limit(1).count() == 0
      e = ss
      round += 1
    }
    if (!stable)
      // partial contraction is silently WRONG — refuse to label it
      throw new IllegalStateException(
        s"starContract did not stabilize in $maxRounds rounds")
    // stars centered at component minima: label = min neighbor (or self)
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
    sym.groupBy(col("u").as("id")).agg(min(col("v")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("lbl"))
  }

  // ---------------------------------------------------- sampling / splits

  /** Deterministic train/valid/test split (90/5/5) by doc_id hash —
    * the content-independent, engine-independent way to split a
    * corpus: no RNG, no seed coordination across engines or reruns; a
    * document's split is a pure function of its id. One scan, one
    * ≤15-key combine shuffle. */
  def trainTestSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"),
        (PortableHashes.hash(col("doc_id").cast("string")) % 100L).as("hb"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .withColumn("split",
        when(col("hb") < 90, "train").when(col("hb") < 95, "valid")
          .otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("total_tokens"))
      .orderBy("split", "lang")

  /** Weighted corpus mixing: per-source acceptance rates (derived
    * arithmetically from the source id here; a real mix ships a weight
    * table) applied via the same hash-threshold trick — the
    * domain-reweighting pass of a pretraining data pipeline. The
    * filter is a pure projection predicate: it pushes no new shuffle,
    * and the achieved-vs-target rates come from one conditional
    * aggregation. */
  def corpusMix(s: SparkSession, dir: String): DataFrame = {
    val srcNum = substring(col("source"), 4, 10).cast("long")
    val thresh = (srcNum % 4L + 1L) * 250L // target rates .25/.5/.75/1.0
    val accepted = (PortableHashes.hash(col("doc_id").cast("string")) % 1000L) < thresh
    t(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        accepted.as("keep"), (thresh.cast("double") / lit(1000.0)).as("target_rate"))
      .groupBy(col("source"))
      .agg(max(col("target_rate")).as("target_rate"),
        count(lit(1)).as("n_total"),
        count(when(col("keep"), 1)).as("n_kept"),
        sum(when(col("keep"), col("toks")).otherwise(0L)).as("kept_tokens"))
      .withColumn("achieved_rate",
        r6(col("n_kept").cast("double") / col("n_total").cast("double")))
      .orderBy("source")
  }

  /** Weighted sample without replacement (k=20, weight = token count)
    * via the exponential-keys scheme (Efraimidis–Spirakis A-ES): each
    * doc gets key = ln(u) / w with u ∈ (0,1] pseudo-random; the k
    * LARGEST keys are a correct weighted sample. Distributed shape:
    * keys are computed in the scan projection and the global top-k is
    * a per-partition top-k + tiny merge (TakeOrdered) — no shuffle of
    * the corpus, no sequential reservoir. u comes from the portable
    * doc_id hash, so the "sample" is deterministic and cross-engine:
    * no RNG state, rerun-stable, and still weight-correct in
    * distribution across the id space. */
  def weightedSample(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("w"),
        ((PortableHashes.hash(col("doc_id").cast("string")) % 1000000007L + 1L)
          .cast("double") / lit(1000000008.0)).as("u"))
      .select(col("doc_id"), col("w"), (log(col("u")) / col("w")).as("key"))
      .orderBy(col("key").desc, col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("w"), r6(col("key")).as("key_r"))

  /** Eval-contamination detection: for every TEST-split document, how
    * many of its distinct word 5-grams also occur anywhere in the
    * TRAIN split (splits from the same doc_id hash as
    * q_train_test_split). This is the decontamination pass run before
    * trusting any eval number. Scale shape: one shuffle keyed on the
    * 5-gram hash (uniform keys); the train side is distinct-reduced
    * (combine map-side) before the join; never doc×doc. Ratio ships
    * as integer parts-per-million — (1e6 * hits) div n — because
    * n_shingles can exceed the r6 tie-safe range. */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.spread(s, t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"),
        (PortableHashes.hash(col("doc_id").cast("string")) % 100L).as("hb"))
      .where(size(col("toks")) >= 5))
      .select(col("doc_id"), col("hb"), explode(expr(
        """transform(sequence(1, size(toks) - 4),
          |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ',
          |              element_at(toks, i + 2), ' ', element_at(toks, i + 3), ' ',
          |              element_at(toks, i + 4)))""".stripMargin)).as("g"))
      .select(col("doc_id"), col("hb"), PortableHashes.hash(col("g")).as("gh"))
    val train = grams.where(col("hb") < 90).select(col("gh")).distinct()
      .withColumn("hit", lit(1L))
    val test = grams.where(col("hb") >= 95)
      .select(col("doc_id"), col("gh")).distinct()
    test.join(train, Seq("gh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hit"))
      .withColumn("contamination_ppm",
        expr("1000000 * cast(n_hit as decimal(38,0)) div n_shingles"))
      .orderBy("doc_id")
  }

  /** Dedup-graph degree distribution: how many near-dup partners each
    * doc has, folded to a histogram — the skew diagnostic run before
    * trusting an LSH pass (a heavy-tailed degree distribution means a
    * shingle family collapsed and the band join is about to explode).
    * Two combine-enabled aggregations over the pair list; output is
    * O(max degree) rows. */
  def dedupDegree(s: SparkSession, dir: String): DataFrame =
    dedupDegreeOf(sharedPairs(s, dir))

  /** [[dedupDegree]] over an already-materialized candidate frame. */
  def dedupDegreeOf(pairsFrame: DataFrame): DataFrame = {
    val pairs = pairsFrame.select(col("doc_a"), col("doc_b"))
    pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
      .orderBy("degree")
  }

  /** Deterministic stratified sample: exactly 5 docs per language,
    * chosen by portable-hash order within each stratum — the
    * "inspect a fixed-size slice of every language/domain" primitive
    * for corpus QA. No RNG: the sample is a pure function of content
    * ids, so reruns and both engines agree.
    *
    * Scale path (r4): the per-stratum window sort never sees the whole
    * stratum. An adaptive hash-threshold pre-filter keeps only
    * `hk < 2^60 * min(1, C/n)` per stratum (C = [[StratPrefilterC]],
    * n = stratum size from a tiny count agg joined back), i.e. the
    * expected ~C smallest-hash docs — so the sort input is O(C) rows
    * per stratum REGARDLESS of corpus size, while the top-5-by-hash
    * answer is provably unchanged whenever ≥ 5 docs survive
    * (P[Poisson(64) < 5] ≈ 1e-20; the unfiltered DuckDB oracle staying
    * green is the end-to-end proof, StratifiedPrefilterSpec asserts
    * filtered ≡ unfiltered + the filter sits below the window sort). */
  val StratPrefilterC = 64L
  private val HashSpan = math.pow(2d, 60) // PortableHashes.hash range [0, 2^60)

  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        PortableHashes.hash(concat(lit("strat:"), col("doc_id").cast("string"))).as("hk"))
    // one row per stratum; AQE broadcasts it (no hint: |langs| is
    // small but not provably bounded — SURVEY §8 rule)
    val counts = base.groupBy(col("lang")).agg(count(lit(1)).as("n_stratum"))
    val threshold = least(
      lit(HashSpan).cast("long"),
      ceil(lit(StratPrefilterC.toDouble * HashSpan) / col("n_stratum")).cast("long"))
    val w = Window.partitionBy(col("lang")).orderBy(col("hk"), col("doc_id"))
    base.join(counts, "lang")
      .where(col("hk") < threshold)
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 5)
      .select(col("lang"), col("rn"), col("doc_id"), col("source"))
      .orderBy("lang", "rn")
  }

  /** Context-window sequence packing: docs are laid into fixed 2048-
    * token packs per language shard, in portable-hash order (the
    * deterministic "shuffle" a training run wants). pack_id comes from
    * the exclusive running token count — a doc straddling a boundary
    * belongs to the pack it started in, packs can overflow by less
    * than one doc (standard greedy packing). The running count is the
    * DISTRIBUTED two-phase prefix sum ([[TwoPhaseRank
    * .withRunningSums]], r9) on the uniform `hk div 2^53` coarsening
    * (128 hash buckets — the q_class_rebalance bucketing) — never a
    * corpus-sized window partitioned on the small |langs| key;
    * provably equal to the naive per-lang cumulative (oracle
    * unchanged). Per-pack stats out. */
  def sequencePack(s: SparkSession, dir: String): DataFrame = {
    val ctx = 2048L
    val base = t(s, dir, "documents")
      .select(col("lang"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        PortableHashes.hash(concat(lit("pack:"), col("doc_id").cast("string"))).as("hk"))
    TwoPhaseRank.withRunningSums(base, Seq("lang"),
        Seq(col("hk"), col("doc_id")), expr("hk div 9007199254740992"),
        Seq("toks" -> "cum"))
      .select(col("lang"), expr(s"(cum - toks) div $ctx").as("pack_id"), col("toks"))
      .groupBy(col("lang"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      .withColumn("fill_ppm", expr(s"(1000000 * n_tokens) div $ctx"))
      .orderBy("lang", "pack_id")
  }

  /** Class-rebalanced corpus: downsample every language class to the
    * size of the SMALLEST class — the standard rebalance before
    * training a classifier whose labels are skewed (langid, quality
    * tiers). Selection is deterministic: each class keeps its
    * lowest-portable-hash documents, so membership is a pure function
    * of doc_id reproducible across engines, runs, and corpus
    * REPARTITIONS (unlike rate-based sampling, the kept set is
    * exactly-sized, and unlike RAND()-based, it is replayable).
    *
    * The per-class rank is a DISTRIBUTED two-phase rank (the
    * q_token_budget discipline): bucket = hash div 2^53 (a MONOTONE
    * coarsening of the hash — 128 buckets — so bucket order refines
    * into hash order and the two-phase total IS the global per-class
    * hash rank), per-(class, bucket) row_numbers + per-class bucket
    * offsets over the bounded (classes × 128) frame; never one
    * single-partition sort per class (5 classes would serialize the
    * corpus on 5 cores at 100 TB). The min-class target is a
    * |classes|-row agg reduced to a 1-row broadcast. */
  def classRebalance(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        PortableHashes.hash(concat(lit("rb:"), col("doc_id").cast("string"))).as("hk"))
      .withColumn("bucket", expr("hk div 9007199254740992"))
    // class totals DERIVE from the bucketed counts (the branch
    // re-executes — no CSE — but its corpus-scale exchange stays on
    // the uniform (class, bucket) key; a direct groupBy(lang) would
    // shuffle the corpus on a |classes|-value key, the skew trap,
    // and the follow-up lang agg here moves only the counts grid)
    val counts = base.groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("bn"))
    val target = counts.groupBy(col("lang")).agg(sum(col("bn")).as("n_class"))
      .agg(min(col("n_class")).as("target"))
    val offW = Window.partitionBy(col("lang")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .select(col("lang"), col("bucket"),
        coalesce(sum(col("bn")).over(offW), lit(0L)).as("off"))
    val inW = Window.partitionBy(col("lang"), col("bucket"))
      .orderBy(col("hk"), col("doc_id"))
    base.join(broadcast(offsets), Seq("lang", "bucket"))
      .withColumn("class_rank",
        (col("off") + row_number().over(inW)).cast("long"))
      .crossJoin(broadcast(target))
      .where(col("class_rank") <= col("target"))
      .select(col("lang"), col("class_rank"), col("doc_id"))
      .orderBy("lang", "class_rank")
  }

  /** Data selection under a token budget: take documents in quality
    * order (type-token-ratio micro-units, doc_id tiebreak) until the
    * corpus-wide 20k-token budget is exhausted. The running token
    * count is a DISTRIBUTED two-phase prefix sum — per-score-bucket
    * partials (≤ 101 rows) window-offset on the driver-sized side,
    * then a window partitioned BY bucket adds within-bucket prefixes —
    * never a global single-partition sort (the naive global-window
    * cumsum is exactly the WindowExec scale smell this avoids).
    * (bucket DESC, ttr_u DESC, doc_id) totals to the plain
    * (ttr_u DESC, doc_id) order since bucket = ttr_u div 10^4. */
  def tokenBudget(s: SparkSession, dir: String): DataFrame = {
    val budget = 20000L
    val base = t(s, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("dtoks"))
      .withColumn("ttr_u",
        floor(lit(1000000.0) * col("dtoks") / col("toks")).cast("long"))
      .withColumn("bucket", expr("ttr_u div 10000"))
    val offW = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("bucket"))
      .agg(sum(col("toks")).as("btoks"), count(lit(1)).as("bdocs"))
      .select(col("bucket"),
        coalesce(sum(col("btoks")).over(offW), lit(0L)).as("off_toks"),
        coalesce(sum(col("bdocs")).over(offW), lit(0L)).as("off_docs"))
    val inW = Window.partitionBy(col("bucket"))
      .orderBy(col("ttr_u").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(offsets), "bucket")
      .withColumn("wcum", sum(col("toks")).over(inW))
      .withColumn("wrank", row_number().over(
        Window.partitionBy(col("bucket")).orderBy(col("ttr_u").desc, col("doc_id"))))
      .select(
        (col("off_docs") + col("wrank")).cast("long").as("sel_rank"),
        col("doc_id"), col("ttr_u"), col("toks"),
        (col("off_toks") + col("wcum")).as("cum_toks"))
      .where(col("cum_toks") - col("toks") < budget)
      .orderBy("sel_rank")
  }

  /** Quality-vs-duplication calibration — the cross-signal audit that
    * decides FILTER ORDER in a curation pipeline: per quality-score
    * decile, what fraction of documents sit in at least one near-dup
    * candidate pair? If duplication concentrates in the low-quality
    * tail, quality-filter-then-dedup shrinks the expensive LSH join's
    * input; if it's flat, the two passes are independent and can run
    * in either order (or fused). Composes the two oracled primitives
    * verbatim: q_quality_score's exact micro-unit score and
    * q_minhash_dedup's candidate pairs.
    *
    * Scale shape: deciles need a GLOBAL rank — computed two-phase
    * (the q_token_budget / q_class_rebalance discipline): bucket =
    * score_u div 64 is a monotone coarsening (≤ 15,626 buckets —
    * bounded by the score DOMAIN, constant in corpus size), bucket
    * counts roll up in one combine agg, the offsets window runs over
    * that bounded frame, and per-bucket ranks are ordinary
    * partitioned windows — so the two-phase rank provably equals the
    * single-window global rank the oracle uses, with no
    * single-partition sort of the corpus anywhere. Dup membership is
    * the LSH candidate frame (collision-bounded) distinct-unioned;
    * the final agg is 10 keys. */
  def qualityVsDup(s: SparkSession, dir: String): DataFrame = {
    val q = graft.ops.TextOps.qualityScore(s, dir)
      .select(col("doc_id"), col("quality_score_u"))
    val pairs = sharedPairs(s, dir)
    val dup = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .distinct().withColumn("is_dup", lit(1L))
    val bucketed = q.withColumn("bucket", expr("quality_score_u div 64"))
    val offW = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(offW), lit(0L)))
      .select(col("bucket"), col("off"))
    val inW = Window.partitionBy(col("bucket"))
      .orderBy(col("quality_score_u"), col("doc_id"))
    val ranked = bucketed.join(broadcast(offsets), "bucket")
      .withColumn("rnk", row_number().over(inW).cast("long") + col("off"))
    ranked
      .crossJoin(broadcast(q.agg(count(lit(1)).as("n_total"))))
      .withColumn("decile", expr("(rnk - 1) * 10 div n_total"))
      .join(dup, Seq("doc_id"), "left")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("is_dup")).as("n_dup"),
        min(col("quality_score_u")).as("q_min_u"),
        max(col("quality_score_u")).as("q_max_u"))
      .select(col("decile"), col("n_docs"), col("n_dup"),
        expr("cast(1000000 * cast(n_dup as decimal(38,0)) div n_docs as bigint)")
          .as("dup_ppm"),
        col("q_min_u"), col("q_max_u"))
      .orderBy("decile")
  }

  /** LSH bucket-load audit — the capacity check that decides whether
    * the minhash geometry survives the next 100× of corpus: per band,
    * the bucket-size distribution binned by bitlength (log2 bins keep
    * the output ≤ bands × 64 rows at ANY corpus size), the docs and
    * candidate pairs (c·(c−1)/2) each bin contributes, and the hottest
    * bucket. Candidate volume growing superlinearly in one fat bin
    * means the band join is about to melt a shuffle partition — the
    * skew-vs-selectivity tradeoff q_lsh_tuning calibrates from theory,
    * audited here from the data.
    *
    * Scale shape: reuses [[bandedSigs]] (one shuffle on the band-sig
    * key, the same the dedup family pays); bucket sizes are a combine
    * agg; the binning agg runs over bucket-count rows only. All
    * integer — bitlength via length(bin(c)), pair counts in wide casts
    * before the multiply. */
  def lshBucketSkew(s: SparkSession, dir: String): DataFrame =
    bandedSigs(s, dir)
      .groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("band").cast("long").as("band"),
        expr("cast(length(bin(c)) as bigint)").as("size_bin"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("c")).cast("long").as("n_docs"),
        sum(expr("cast(c as decimal(38,0)) * (c - 1) div 2")).cast("long")
          .as("n_cand_pairs"),
        max(col("c")).as("max_bucket"))
      .orderBy("band", "size_bin")

  /** Shard-writer plan — the "how many output files per (lang,
    * source) cell" number a partitioned-parquet writer needs BEFORE
    * the write: per cell, docs, token mass, ceil-divided file count at
    * 50k tokens/file, and the cell's corpus share in exact ppm. The
    * cell emitting one fat file (share ≫ files) is the repartition
    * candidate; cells emitting thousands are the small-file problem.
    * Integer end to end (ceil via (n + t − 1) div t).
    *
    * Scale shape: token counting is scan-side; ONE combine agg to the
    * bounded |langs|·|sources| grid; the share window rides the grid,
    * never rows. */
  def writePlan(s: SparkSession, dir: String): DataFrame = {
    val target = 50000L
    t(s, dir, "documents")
      .select(col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks").cast("decimal(38,0)")).cast("long")
          .as("n_tokens"))
      .withColumn("total_tokens",
        sum(col("n_tokens")).over(Window.partitionBy()))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        expr(s"(n_tokens + ${target - 1}) div $target").as("n_files"),
        expr("""cast(cast(n_tokens as decimal(38,0)) * 1000000
          div total_tokens as bigint)""").as("share_ppm"))
      .orderBy("lang", "source")
  }

  /** Token-weighted duplication inflation per source — the "which
    * source is wasting my compute" number: of the tokens a source
    * contributes, how many belong to docs that are NOT the canonical
    * (min-doc_id) copy of their exact content hash. Doc-count dedup
    * rates (q_dedup_corpus) understate the cost when the duplicated
    * docs are long; training cost is paid in tokens, so the budget
    * decision needs the token-weighted number. Canonical attribution
    * is global (a source holding only copies of another source's
    * docs shows 100% inflation — the right verdict for dedup order).
    *
    * Scale shape: content hash + token count are scan-side; ONE hash
    * shuffle for the min-doc_id-per-hash window; the per-source
    * combine agg is the only other movement. Never pairs, never a
    * corpus join. */
  def dupInflation(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, t(s, dir, "documents"))
      .select(col("doc_id"), col("source"),
        PortableHashes.hash(col("text")).as("h"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .withColumn("canon",
        min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") === col("canon"), 1L).otherwise(0L))
          .cast("long").as("n_canonical"),
        sum(col("n_toks").cast("decimal(38,0)")).cast("long")
          .as("tokens_total"),
        sum(when(col("doc_id") === col("canon"), col("n_toks"))
          .otherwise(0L).cast("decimal(38,0)")).cast("long")
          .as("tokens_canonical"))
      .select(col("source"), col("n_docs"), col("n_canonical"),
        col("tokens_total"), col("tokens_canonical"),
        expr("""cast(cast(tokens_total - tokens_canonical as decimal(38,0))
          * 1000000 div tokens_total as bigint)""").as("dup_token_ppm"))
      .orderBy("source")

  /** Per-source dataset card — the one-row-per-source datasheet a
    * corpus release ships: doc and token inventory, language spread
    * with the dominant language (modal, smallest-lang tie rule),
    * and the within-source exact-dup rate (docs minus distinct
    * content hashes, doc-weighted — the global token-weighted view
    * is q_dup_inflation's job). One query instead of a notebook of
    * five.
    *
    * Scale shape: one (source, lang) combine for the language
    * profile (bounded grid, modal via the cmax-window-over-grid
    * rule); one per-source combine carrying token sums + the exact
    * distinct-hash count (2-phase); the two ≤ |sources| frames
    * broadcast-join. */
  def datasetCard(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(s, t(s, dir, "documents"))
      .select(col("doc_id"), col("source"), col("lang"),
        PortableHashes.hash(col("text")).as("h"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
    val langGrid = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
    val bySource = Window.partitionBy(col("source"))
    val langProfile = langGrid
      .withColumn("cmax", max(col("c")).over(bySource))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_langs"),
        min(when(col("c") === col("cmax"), col("lang")))
          .as("dominant_lang"))
    val stats = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("h")).as("n_distinct"),
        sum(col("n_toks").cast("decimal(38,0)")).cast("long")
          .as("tokens_total"))
    stats.join(broadcast(langProfile), "source")
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("dominant_lang"), col("tokens_total"),
        expr("tokens_total div n_docs").as("mean_tokens"),
        expr("""cast(cast(n_docs - n_distinct as decimal(38,0))
          * 1000000 div n_docs as bigint)""").as("within_dup_ppm"))
      .orderBy("source")
  }

  /** Empirical LSH recall/precision curve vs exact Jaccard truth —
    * the measured counterpart of q_lsh_tuning's analytic b/r curve,
    * and the dedup family's answer to q_ann_recall: over a FIXED
    * 500-doc evaluation window (doc_id < 500 — eval harnesses run on
    * a capped block; the cap is the knob, so the all-pairs truth stays
    * bounded at ANY corpus scale), ground truth = exact 3-gram Jaccard
    * ≥ 0.5, candidates = the production band join restricted to the
    * window. For each band-agreement threshold k = 1..8: candidates,
    * truth hits, recall and precision in truncating ppm (zero-guarded
    * — a threshold with no candidates reports 0, not a division
    * error). Single-perm bands collide with probability ≈ j per band,
    * so recall@k tracks a Binomial(8, j) tail — the curve shows where
    * to set the agreement cut that q_dedup_incremental hardcodes.
    *
    * Scale shape: truth is an all-pairs gram join WITHIN the capped
    * window only; candidates reuse the banded frame filtered to the
    * window; the k-expansion is over ≤ bounded-pairs × 8 rows. */
  def lshRecall(s: SparkSession, dir: String): DataFrame = {
    val cap = 500L
    val sample = t(s, dir, "documents").where(col("doc_id") < cap)
    val grams = Tables.spread(s, sample)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(
        graft.functions.PortableHashes.hashes(expr(
          """transform(sequence(1, size(toks) - 2),
            |  i -> concat(element_at(toks, i), ' ',
            |              element_at(toks, i + 1), ' ',
            |              element_at(toks, i + 2)))""".stripMargin)))
        .as("gh"))
      .distinct()
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val truth = grams.select(col("doc_id").as("da"), col("gh"))
      .join(grams.select(col("doc_id").as("db"), col("gh")), Seq("gh"))
      .where(col("da") < col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("doc_id").as("da"),
        col("n").as("na"))), Seq("da"))
      .join(broadcast(sizes.select(col("doc_id").as("db"),
        col("n").as("nb"))), Seq("db"))
      .where(expr("""cast(inter as decimal(38,0)) * 1000000
        div (na + nb - inter) >= 500000"""))
      .select(col("da"), col("db"))
    val banded = bandedSigs(s, dir).where(col("doc_id") < cap)
    val cand = banded.select(col("band"), col("sig"),
        col("doc_id").as("da"))
      .join(banded.select(col("band"), col("sig"),
        col("doc_id").as("db")), Seq("band", "sig"))
      .where(col("da") < col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("agreement"))
    val tagged = cand.join(truth.withColumn("is_truth", lit(1L)),
        Seq("da", "db"), "left")
      .select(col("agreement"), coalesce(col("is_truth"), lit(0L))
        .as("is_truth"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    tagged
      .select(explode(expr("sequence(1, 8)")).as("k0"),
        col("agreement"), col("is_truth"))
      .select(col("k0").cast("long").as("k"), col("agreement"),
        col("is_truth"))
      .where(col("agreement") >= col("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(col("is_truth")).cast("long").as("n_hits"))
      .crossJoin(broadcast(nTruth))
      .select(col("k"), col("n_truth"), col("n_candidates"), col("n_hits"),
        when(col("n_truth") === 0L, 0L).otherwise(
          expr("""cast(cast(n_hits as decimal(38,0)) * 1000000
            div n_truth as bigint)""")).as("recall_ppm"),
        when(col("n_candidates") === 0L, 0L).otherwise(
          expr("""cast(cast(n_hits as decimal(38,0)) * 1000000
            div n_candidates as bigint)""")).as("precision_ppm"))
      .orderBy("k")
  }

  /** Cross-split near-dup leakage audit — the eval-integrity check a
    * training run must pass: near-dup pairs (the production ≥ 2-band
    * agreement rule) whose endpoints fall in DIFFERENT splits of the
    * q_train_test_split hash rule. A test doc with a train near-dup
    * inflates eval scores without any exact-match contamination —
    * q_contamination's n-gram overlap can't see it; this is the
    * near-dup complement. Pairs are oriented by split name, and each
    * side's leaking-doc count is reported against that split's size
    * in truncating ppm ("0.3% of test docs have a train near-dup").
    *
    * Scale shape: the same LSH-bounded candidate frame the dedup
    * family shares (never all-pairs); split labels are scan-side
    * hash arithmetic; the rollup is over ≤ 3 split-pair rows, split
    * sizes a ≤ 3-row broadcast. */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    def sp(c: Column): Column = {
      val hb = PortableHashes.hash(c.cast("string")) % 100L
      when(hb < 90, "train").when(hb < 95, "valid").otherwise("test")
    }
    val banded = bandedSigs(s, dir)
    val pairs = banded.select(col("band"), col("sig"),
        col("doc_id").as("doc_a"))
      .join(banded.select(col("band"), col("sig"),
        col("doc_id").as("doc_b")), Seq("band", "sig"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .where(col("n_shared_bands") >= 2)
      .select(col("doc_a"), col("doc_b"),
        sp(col("doc_a")).as("sa"), sp(col("doc_b")).as("sb"))
      .where(col("sa") =!= col("sb"))
    val sizes = t(s, dir, "documents")
      .select(sp(col("doc_id")).as("split"))
      .groupBy(col("split")).agg(count(lit(1)).as("n_split"))
    val oriented = pairs.select(
      least(col("sa"), col("sb")).as("split_a"),
      greatest(col("sa"), col("sb")).as("split_b"),
      when(col("sa") <= col("sb"), col("doc_a")).otherwise(col("doc_b"))
        .as("da"),
      when(col("sa") <= col("sb"), col("doc_b")).otherwise(col("doc_a"))
        .as("db"))
    oriented
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"),
        count_distinct(col("da")).as("n_docs_a"),
        count_distinct(col("db")).as("n_docs_b"))
      .join(broadcast(sizes.select(col("split").as("split_a"),
        col("n_split").as("size_a"))), Seq("split_a"))
      .join(broadcast(sizes.select(col("split").as("split_b"),
        col("n_split").as("size_b"))), Seq("split_b"))
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        col("n_docs_a"), col("n_docs_b"),
        expr("""cast(cast(n_docs_a as decimal(38,0)) * 1000000
          div size_a as bigint)""").as("leak_a_ppm"),
        expr("""cast(cast(n_docs_b as decimal(38,0)) * 1000000
          div size_b as bigint)""").as("leak_b_ppm"))
      .orderBy("split_a", "split_b")
  }

  /** Deterministic hard-negative sampling for contrastive training —
    * per anchor doc (a 2% hash sample), 4 negatives drawn by hashing
    * (anchor, i) onto the dense doc_id ring, skipping self and
    * same-source hits by advancing through 8 deterministic candidate
    * draws (unrolled — no RNG state, no rejection loop to
    * coordinate across executors; re-runs and engines draw the SAME
    * negatives, so training data is reproducible by construction).
    * Cross-source negatives are the cheap "hard enough" default a
    * contrastive pipeline starts from; the ANN family upgrades them
    * to semantic hard negatives later.
    *
    * Scale shape: anchors and their 8 candidate ids are scan-side
    * (short-array HOF, one sha per draw); one join against the
    * corpus on the candidate id (shuffle on a uniform hash-derived
    * key — no skew by construction); the keep-first-4 window rides
    * the anchor partitioning. */
  def negativeSampling(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val candHash = PortableHashes.hashSql(
      "concat(cast(anchor_id as string), '#', cast(i as string))")
    val cands = docs
      .where(PortableHashes.hash(col("doc_id").cast("string")) % 50L === 0L)
      .select(col("doc_id").as("anchor_id"),
        col("source").as("anchor_source"))
      .crossJoin(broadcast(n))
      .select(col("anchor_id"), col("anchor_source"),
        posexplode(expr(s"transform(sequence(0, 7), i -> $candHash % n_docs)"))
          .as(Seq("i", "cand_id")))
    val wr = Window.partitionBy(col("anchor_id")).orderBy(col("i"))
    cands
      .join(docs.select(col("doc_id").as("cand_id"),
        col("source").as("neg_source")), Seq("cand_id"))
      .where(col("cand_id") =!= col("anchor_id") &&
        col("neg_source") =!= col("anchor_source"))
      .withColumn("neg_rank", row_number().over(wr).cast("long"))
      .where(col("neg_rank") <= 4L)
      .select(col("anchor_id"), col("neg_rank"),
        col("cand_id").as("neg_doc_id"), col("neg_source"))
      .orderBy("anchor_id", "neg_rank")
  }

  /** Local clustering coefficient per node over the near-dup
    * candidate graph — the node-level refinement of
    * q_triangle_count's single global closure number: coefficient
    * ≈ 1 means the doc sits inside a near-clique (a true duplicate
    * cluster — safe to collapse aggressively); a high-degree node
    * with coefficient ≈ 0 is an LSH HUB (a template shard colliding
    * with everything — the node whose edges q_common_neighbors
    * flags for re-verification). Exact truncating ppm:
    * 2·triangles·1e6 div (deg·(deg−1)), nodes with deg ≥ 2.
    *
    * Scale shape: the checkpointed candidate frame (derived once —
    * three self-references would otherwise re-run the banding);
    * ordered triangles (u<v<w) explode to their three corners for
    * the per-node count; wedge-join cost is Σ deg² over the LSH
    * graph, the q_triangle_count physics. */
  def clusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val e = sharedOrCheckpointed(s, dir)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    val und = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val tris = e.toDF("u", "v").join(e.toDF("v", "w"), "v")
      .join(e.toDF("u", "w"), Seq("u", "w"))
      .select(col("u"), col("v"), col("w"))
    val triPerNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.where(col("deg") >= 2L)
      .join(triPerNode, Seq("node"), "left")
      .na.fill(0L, Seq("n_triangles"))
      .select(col("node").as("doc_id"), col("deg").as("degree"),
        col("n_triangles"),
        expr("""cast(2 * cast(n_triangles as decimal(38,0)) * 1000000
          div (degree * (degree - 1)) as bigint)""").as("coeff_ppm"))
      .orderBy("doc_id")
  }

  /** Dedup survivorship — which source's documents WIN dedup groups
    * and which source's get dropped in favor of whom: per exact-dup
    * group the keep-min-doc_id rule picks a winner (the same rule as
    * q_dedup_corpus, so this audits that exact filter), and every
    * dropped document becomes a (winner_source → loser_source) edge
    * with its character mass. A source that mostly loses to one other
    * source is a mirror/scrape of it — the cross-source attribution
    * q_dup_inflation's per-source totals can't show.
    *
    * The gate corpus carries no byte-exact duplicates, so the query
    * unions a deterministic "mirror" source (every doc_id % 5 == 0
    * re-keyed by a max(doc_id)+1 offset with source 'mirror' — the
    * q_dedup_normalized planted-variant pattern): the arg-min winner
    * rule and the grid rollup are then genuinely exercised instead of
    * 0 == 0, and any organic duplicates at larger SF fold in on top.
    * The offset derives from the corpus itself (1-row broadcast), so
    * mirror keys can never collide with real doc_ids at any SF.
    *
    * Scale shape: ONE content-hash combine (arg-min winner rides it
    * via min_by) + the hash-keyed join-back; the rollup is a combine
    * to the ≤ |sources|² grid. */
  def dedupSurvivorship(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
    val off = base.agg((max(col("doc_id")) + 1L).as("off"))
    val mirror = base.where(col("doc_id") % 5 === 0)
      .crossJoin(broadcast(off))
      .select((col("doc_id") + col("off")).as("doc_id"),
        lit("mirror").as("source"), col("n_chars"), col("text"))
    val docs = base.unionAll(mirror)
      .select(col("doc_id"), col("source"), col("n_chars"),
        sha2(col("text"), 256).as("h"))
    val winners = docs.groupBy(col("h"))
      .agg(min(col("doc_id")).as("win_doc"),
        min_by(col("source"), col("doc_id")).as("winner_source"))
    docs.join(winners, "h")
      .where(col("doc_id") =!= col("win_doc"))
      .groupBy(col("winner_source"), col("source").as("loser_source"))
      .agg(count(lit(1)).cast("long").as("n_lost_docs"),
        sum(col("n_chars").cast("decimal(38,0)")).cast("long")
          .as("lost_chars"))
      .orderBy("winner_source", "loser_source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_survivorship" -> dedupSurvivorship _,
    "q_clustering_coeff" -> clusteringCoeff _,
    "q_negative_sampling" -> negativeSampling _,
    "q_lsh_recall" -> lshRecall _,
    "q_split_leakage" -> splitLeakage _,
    "q_dataset_card" -> datasetCard _,
    "q_dup_inflation" -> dupInflation _,
    "q_write_plan" -> writePlan _,
    "q_lsh_bucket_skew" -> lshBucketSkew _,
    "q_quality_vs_dup" -> qualityVsDup _,
    "q_dedup_incremental" -> dedupIncremental _,
    "q_sequence_pack" -> sequencePack _,
    "q_token_budget" -> tokenBudget _,
    "q_stratified_sample" -> stratifiedSample _,
    "q_class_rebalance" -> classRebalance _,
    "q_dedup_degree" -> dedupDegree _,
    "q_contamination" -> contamination _,
    "q_weighted_sample" -> weightedSample _,
    "q_train_test_split" -> trainTestSplit _,
    "q_corpus_mix" -> corpusMix _,
    "q_text_stats" -> textStats _,
    "q_text_langdist" -> textLangdist _,
    "q_exact_dedup" -> exactDedup _,
    "q_dedup_corpus" -> dedupCorpus _,
    "q_dedup_normalized" -> dedupNormalized _,
    "q_curation_pipeline" -> curationPipeline _,
    "q_dedup_pagerank" -> dedupPagerank _,
    "q_cluster_stats" -> clusterStats _,
    "q_minhash_dedup" -> minhashDedup _,
    "q_dedup_cascade" -> dedupCascade _,
    "q_triangle_count" -> triangleCount _,
    "q_common_neighbors" -> commonNeighbors _,
    "q_dedup_consensus" -> dedupConsensus _,
    "q_recursive_reach" -> recursiveReach _,
    "q_dedup_clusters" -> dedupClusters _,
    "q_cosine_topk" -> cosineTopk _,
    "q_knn_classify" -> knnClassify _,
    "q_multimodal_project" -> multimodalProject _)

  /** The q_minhash_dedup oracle, factored so the consensus oracle can
    * embed it verbatim — the pair semantics cannot drift between the
    * standalone query and the consensus view. */
  /** The shared LSH banding CTEs (shingle → sha → 8 band minima) —
    * the oracle twin of [[bandedSigs]]; `m` is (doc_id, band, sig). */
  private val minhashBandCtes: String =
    """s AS (
      |  SELECT doc_id,
      |         list_transform(range(1, len(string_split(text, ' ')) - 1),
      |           i -> string_split(text, ' ')[i] || ' ' ||
      |                string_split(text, ' ')[i + 1] || ' ' ||
      |                string_split(text, ' ')[i + 2]) AS shingles
      |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
      |hs AS (
      |  SELECT doc_id,
      |         list_transform(shingles,
      |           sh -> CAST('0x' || substring(sha256(sh), 1, 15) AS BIGINT) % 2147483647) AS hs
      |  FROM s),
      |m AS (
      |  SELECT doc_id, b.range AS band,
      |         list_min(list_transform(hs,
      |           h -> (h * (b.range + 1) + 37 * b.range + 101) % 2147483647)) AS sig
      |  FROM hs, range(0, 8) b)""".stripMargin

  private val minhashOracleSql: String =
    s"""WITH $minhashBandCtes
      |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, count(*) AS n_shared_bands
      |FROM m a JOIN m c ON a.band = c.band AND a.sig = c.sig AND a.doc_id < c.doc_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q_dedup_incremental oracle: the same banding CTEs, delta tagged
    * by the same doc_id hash rule the query uses. */
  private val dedupIncrementalOracleSql: String = {
    val dh = "CAST('0x' || substring(sha256(CAST(%s AS VARCHAR)), 1, 15) AS BIGINT) %% 10 = 0"
    val deltaDoc = dh.format("d0.doc_id")
    val deltaA = dh.format("a.doc_id")
    val deltaC = dh.format("c.doc_id")
    s"""WITH $minhashBandCtes,
       |d AS (SELECT d0.doc_id FROM documents d0 WHERE $deltaDoc),
       |p0 AS (
       |  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
       |         ($deltaC) AS delta_b, count(*) AS n_shared_bands
       |  FROM m a JOIN m c ON a.band = c.band AND a.sig = c.sig
       |       AND a.doc_id <> c.doc_id
       |  WHERE $deltaA
       |  GROUP BY 1, 2, 3
       |  HAVING count(*) >= 2),
       |p AS (
       |  SELECT doc_a,
       |         CAST(sum(CASE WHEN NOT delta_b THEN 1 ELSE 0 END)
       |           AS BIGINT) AS n_corpus_partners,
       |         CAST(sum(CASE WHEN delta_b AND doc_b < doc_a
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_prior_delta_partners
       |  FROM p0 GROUP BY 1)
       |SELECT d.doc_id,
       |       CAST(coalesce(p.n_corpus_partners, 0) AS BIGINT)
       |         AS n_corpus_partners,
       |       CAST(coalesce(p.n_prior_delta_partners, 0) AS BIGINT)
       |         AS n_prior_delta_partners,
       |       CASE WHEN coalesce(p.n_corpus_partners, 0) > 0
       |              THEN 'dup_corpus'
       |            WHEN coalesce(p.n_prior_delta_partners, 0) > 0
       |              THEN 'dup_delta'
       |            ELSE 'admit' END AS verdict
       |FROM d LEFT JOIN p ON d.doc_id = p.doc_a
       |ORDER BY d.doc_id""".stripMargin
  }

  /** q_dedup_cascade oracle: the noised corpus (q_dedup_normalized's
    * exact CASE), the two QUALIFY keep-first tiers, and the banding
    * CTEs re-rooted at the tier-2 survivors — same ≥ 2/8 band cut and
    * smaller-id drop rule as the query. */
  private val dedupCascadeOracleSql: String =
    """WITH c0 AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id,
      |         CASE WHEN doc_id % 3 = 0 THEN upper(text) || '!!'
      |              WHEN doc_id % 3 = 1
      |                THEN regexp_replace(text, ' ', '  ,  ', 'g')
      |              ELSE '  ' || text || '  ' END AS text
      |  FROM documents),
      |s1 AS (
      |  SELECT doc_id, text FROM c0
      |  QUALIFY row_number() OVER (
      |    PARTITION BY sha256(text) ORDER BY doc_id) = 1),
      |s2 AS (
      |  SELECT doc_id, text FROM s1
      |  QUALIFY row_number() OVER (
      |    PARTITION BY sha256(trim(regexp_replace(regexp_replace(lower(text),
      |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))
      |    ORDER BY doc_id) = 1),
      |sh AS (
      |  SELECT doc_id,
      |         list_transform(range(1, len(string_split(text, ' ')) - 1),
      |           i -> string_split(text, ' ')[i] || ' ' ||
      |                string_split(text, ' ')[i + 1] || ' ' ||
      |                string_split(text, ' ')[i + 2]) AS shingles
      |  FROM s2 WHERE len(string_split(text, ' ')) >= 3),
      |hs2 AS (
      |  SELECT doc_id,
      |         list_transform(shingles,
      |           sh -> CAST('0x' || substring(sha256(sh), 1, 15) AS BIGINT) % 2147483647) AS hs
      |  FROM sh),
      |mb AS (
      |  SELECT doc_id, b.range AS band,
      |         list_min(list_transform(hs,
      |           h -> (h * (b.range + 1) + 37 * b.range + 101) % 2147483647)) AS sig
      |  FROM hs2, range(0, 8) b),
      |drop3 AS (
      |  SELECT DISTINCT doc_id FROM (
      |    SELECT a.doc_id AS doc_id, c.doc_id AS doc_prior
      |    FROM mb a JOIN mb c ON a.band = c.band AND a.sig = c.sig
      |         AND c.doc_id < a.doc_id
      |    GROUP BY 1, 2 HAVING count(*) >= 2)),
      |s3 AS (
      |  SELECT doc_id FROM s2
      |  WHERE doc_id NOT IN (SELECT doc_id FROM drop3)),
      |n AS (
      |  SELECT (SELECT count(*) FROM c0) AS n0,
      |         (SELECT count(*) FROM s1) AS n1,
      |         (SELECT count(*) FROM s2) AS n2,
      |         (SELECT count(*) FROM s3) AS n3)
      |SELECT tier, n_in, n_removed, n_out FROM (
      |  SELECT '1_exact' AS tier, n0 AS n_in, n0 - n1 AS n_removed,
      |         n1 AS n_out FROM n
      |  UNION ALL SELECT '2_normalized', n1, n1 - n2, n2 FROM n
      |  UNION ALL SELECT '3_neardup', n2, n2 - n3, n3 FROM n)
      |ORDER BY tier""".stripMargin

  /** The q_dedup_consensus oracle, assembled from the three signal
    * families' own declared oracles (minhash verbatim; simhash from
    * TextOps; SRP generated at the default geometry) so the consensus
    * view can never drift from the standalone operators. */
  private[graft] def consensusOracle: String =
    s"""WITH lex_q AS (
       |${minhashOracleSql}),
       |sim_q AS (
       |${TextOps.oracles("q_simhash_dedup")}),
       |emb_q AS (
       |${VectorOps.neardupOracle(VectorOps.SrpBands, VectorOps.SrpBits)}),
       |l2 AS (SELECT doc_a, doc_b, TRUE AS lex FROM lex_q),
       |s2 AS (SELECT doc_a, doc_b, TRUE AS simh FROM sim_q),
       |e2c AS (SELECT vec_a AS doc_a, vec_b AS doc_b, TRUE AS emb FROM emb_q),
       |j AS (
       |  SELECT doc_a, doc_b,
       |         coalesce(lex, false) AS lex, coalesce(simh, false) AS simh,
       |         coalesce(emb, false) AS emb
       |  FROM l2
       |  FULL OUTER JOIN s2 USING (doc_a, doc_b)
       |  FULL OUTER JOIN e2c USING (doc_a, doc_b))
       |SELECT doc_a, doc_b, lex, simh, emb,
       |       CAST((CASE WHEN lex THEN 1 ELSE 0 END) +
       |            (CASE WHEN simh THEN 1 ELSE 0 END) +
       |            (CASE WHEN emb THEN 1 ELSE 0 END) AS BIGINT) AS n_signals
       |FROM j ORDER BY doc_a, doc_b""".stripMargin

  /** The q_recursive_reach oracle, reformulated for sf10 (VERDICT r11
    * #4). The r11 form ran DuckDB's WITH RECURSIVE over the
    * ENUMERATED candidate-pair graph — 562 M edges at sf10, > 45 GiB
    * temp, the gate's one oracle-cost skip. But the edge relation IS
    * "shares ≥ 1 (band, sig) bucket" ([[minhashDedup]] groups the
    * band self-join), so BFS over the pairs equals BFS over the
    * doc↔bucket BIPARTITE graph, whose table `m` is 8 rows/doc (4 M
    * rows at sf10, never 562 M): level k+1 = docs appearing in any
    * bucket touched by level ≤ k. The depth bound is 3, so the
    * recursion unrolls to three bucket joins; each level's DISTINCT
    * is ≤ |docs|. Spurious self-appearances (a frontier doc re-found
    * via its own buckets) are harmless under the final min(depth) —
    * a doc's first appearance is its true BFS distance, later
    * re-appearances lose the min. Equivalence is not argued, it is
    * hash-checked: the driver gate compares this oracle to the
    * unchanged Spark recursion at every SF. */
  private[graft] def recursiveReachOracle: String =
    s"""WITH $minhashBandCtes,
       |r0 AS (
       |  SELECT DISTINCT b1.doc_id
       |  FROM m b1 JOIN m b2 ON b1.band = b2.band AND b1.sig = b2.sig
       |    AND b2.doc_id <> b1.doc_id
       |  WHERE b1.doc_id < 20),
       |n1 AS (
       |  SELECT DISTINCT b2.doc_id
       |  FROM r0 JOIN m b1 ON b1.doc_id = r0.doc_id
       |  JOIN m b2 ON b2.band = b1.band AND b2.sig = b1.sig),
       |r1 AS (SELECT doc_id FROM r0 UNION SELECT doc_id FROM n1),
       |n2 AS (
       |  SELECT DISTINCT b2.doc_id
       |  FROM r1 JOIN m b1 ON b1.doc_id = r1.doc_id
       |  JOIN m b2 ON b2.band = b1.band AND b2.sig = b1.sig),
       |r2 AS (SELECT doc_id FROM r1 UNION SELECT doc_id FROM n2),
       |n3 AS (
       |  SELECT DISTINCT b2.doc_id
       |  FROM r2 JOIN m b1 ON b1.doc_id = r2.doc_id
       |  JOIN m b2 ON b2.band = b1.band AND b2.sig = b1.sig),
       |lv AS (
       |  SELECT doc_id, 0 AS depth FROM r0
       |  UNION ALL SELECT doc_id, 1 FROM n1
       |  UNION ALL SELECT doc_id, 2 FROM n2
       |  UNION ALL SELECT doc_id, 3 FROM n3)
       |SELECT doc_id, CAST(min(depth) AS BIGINT) AS hops
       |FROM lv GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // Same keep-min rule (arg_min ≡ min_by, doc_id unique), same
    // hash join-back and grid rollup.
    "q_dedup_survivorship" ->
      """WITH o AS (SELECT max(doc_id) + 1 AS off FROM documents),
        |d AS (
        |  SELECT doc_id, source, n_chars, sha256(text) AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + o.off, 'mirror', n_chars, sha256(text)
        |  FROM documents, o WHERE doc_id % 5 = 0),
        |w AS (
        |  SELECT h, min(doc_id) AS win_doc,
        |         arg_min(source, doc_id) AS winner_source
        |  FROM d GROUP BY h)
        |SELECT w.winner_source, d.source AS loser_source,
        |       CAST(count(*) AS BIGINT) AS n_lost_docs,
        |       CAST(sum(d.n_chars) AS BIGINT) AS lost_chars
        |FROM d JOIN w ON d.h = w.h
        |WHERE d.doc_id != w.win_doc
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Same ordered-triangle corners, same symmetric degrees, same
    // truncating coefficient over deg >= 2 nodes.
    "q_clustering_coeff" ->
      s"""WITH $minhashBandCtes,
        |e AS (
        |  SELECT a.doc_id AS u, c.doc_id AS v
        |  FROM m a JOIN m c ON a.band = c.band AND a.sig = c.sig
        |    AND a.doc_id < c.doc_id
        |  GROUP BY 1, 2),
        |und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
        |        FROM und GROUP BY 1),
        |tris AS (
        |  SELECT e1.u, e1.v, e2.v AS w
        |  FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tn AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM (SELECT u AS node FROM tris
        |        UNION ALL SELECT v FROM tris
        |        UNION ALL SELECT w FROM tris)
        |  GROUP BY node)
        |SELECT deg.node AS doc_id, deg.deg AS degree,
        |       coalesce(tn.n_triangles, 0) AS n_triangles,
        |       CAST(2 * CAST(coalesce(tn.n_triangles, 0) AS HUGEINT)
        |            * 1000000 // (deg.deg * (deg.deg - 1)) AS BIGINT)
        |         AS coeff_ppm
        |FROM deg LEFT JOIN tn ON tn.node = deg.node
        |WHERE deg.deg >= 2
        |ORDER BY doc_id""".stripMargin,
    // Same anchor sample, same (anchor, i) hash draws on the dense
    // id ring, same skip rules and keep-first-4.
    "q_negative_sampling" ->
      """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
        |            FROM documents),
        |a AS (
        |  SELECT doc_id AS anchor_id, source AS anchor_source
        |  FROM documents
        |  WHERE CAST('0x' || substring(sha256(CAST(doc_id AS VARCHAR)),
        |          1, 15) AS BIGINT) % 50 = 0),
        |c AS (
        |  SELECT anchor_id, anchor_source, i,
        |         CAST('0x' || substring(sha256(CAST(anchor_id AS VARCHAR)
        |           || '#' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT)
        |           % (SELECT n_docs FROM nn) AS cand_id
        |  FROM a, (SELECT unnest(range(0, 8)) AS i)),
        |j AS (
        |  SELECT c.anchor_id, c.i, c.cand_id, d.source AS neg_source
        |  FROM c JOIN documents d ON d.doc_id = c.cand_id
        |  WHERE c.cand_id <> c.anchor_id
        |    AND d.source <> c.anchor_source),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
        |                               ORDER BY i) AS rk
        |  FROM j)
        |SELECT anchor_id, CAST(rk AS BIGINT) AS neg_rank,
        |       cand_id AS neg_doc_id, neg_source
        |FROM r WHERE rk <= 4 ORDER BY anchor_id, neg_rank""".stripMargin,
    // Same capped window, same exact-Jaccard truth rule, same band
    // join and per-threshold counts with the same zero guards.
    "q_lsh_recall" ->
      s"""WITH $minhashBandCtes,
        |g AS (
        |  SELECT DISTINCT doc_id,
        |         CAST('0x' || substring(sha256(gram), 1, 15) AS BIGINT)
        |           AS gh
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(
        |            range(1, len(string_split(text, ' ')) - 1),
        |            i -> string_split(text, ' ')[i] || ' ' ||
        |                 string_split(text, ' ')[i + 1] || ' ' ||
        |                 string_split(text, ' ')[i + 2])) AS gram
        |        FROM documents
        |        WHERE doc_id < 500
        |          AND len(string_split(text, ' ')) >= 3)),
        |z AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
        |      FROM g GROUP BY 1),
        |tr AS (
        |  SELECT p.da, p.db FROM (
        |    SELECT a.doc_id AS da, b.doc_id AS db,
        |           CAST(count(*) AS BIGINT) AS inter
        |    FROM g a JOIN g b ON a.gh = b.gh AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2) p
        |  JOIN z za ON p.da = za.doc_id
        |  JOIN z zb ON p.db = zb.doc_id
        |  WHERE CAST(p.inter AS HUGEINT) * 1000000
        |        // (za.n + zb.n - p.inter) >= 500000),
        |cd AS (
        |  SELECT a.doc_id AS da, c.doc_id AS db,
        |         CAST(count(*) AS BIGINT) AS agreement
        |  FROM m a JOIN m c ON a.band = c.band AND a.sig = c.sig
        |    AND a.doc_id < c.doc_id
        |  WHERE a.doc_id < 500 AND c.doc_id < 500
        |  GROUP BY 1, 2),
        |tg AS (
        |  SELECT cd.agreement,
        |         CASE WHEN tr.da IS NULL THEN 0 ELSE 1 END AS is_truth
        |  FROM cd LEFT JOIN tr ON cd.da = tr.da AND cd.db = tr.db),
        |ks AS (SELECT unnest(range(1, 9)) AS k),
        |agg AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS n_candidates,
        |         CAST(sum(is_truth) AS BIGINT) AS n_hits
        |  FROM ks JOIN tg ON tg.agreement >= ks.k GROUP BY k)
        |SELECT CAST(k AS BIGINT) AS k,
        |       (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n_truth,
        |       n_candidates, n_hits,
        |       CASE WHEN (SELECT count(*) FROM tr) = 0
        |            THEN CAST(0 AS BIGINT)
        |            ELSE CAST(CAST(n_hits AS HUGEINT) * 1000000
        |                 // (SELECT count(*) FROM tr) AS BIGINT) END
        |         AS recall_ppm,
        |       CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT)
        |            ELSE CAST(CAST(n_hits AS HUGEINT) * 1000000
        |                 // n_candidates AS BIGINT) END AS precision_ppm
        |FROM agg ORDER BY k""".stripMargin,
    // Same band pairs at the same >= 2 agreement, same hash split
    // rule, same orientation and ppm denominators.
    "q_split_leakage" ->
      s"""WITH $minhashBandCtes,
        |pr AS (
        |  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM m a JOIN m c ON a.band = c.band AND a.sig = c.sig
        |    AND a.doc_id < c.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sp AS (
        |  SELECT doc_id, CASE WHEN hb < 90 THEN 'train'
        |                      WHEN hb < 95 THEN 'valid'
        |                      ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |          CAST('0x' || substring(sha256(CAST(doc_id AS VARCHAR)),
        |            1, 15) AS BIGINT) % 100 AS hb
        |        FROM documents)),
        |x AS (
        |  SELECT pr.doc_a, pr.doc_b, sa.split AS sa, sb.split AS sb
        |  FROM pr
        |  JOIN sp sa ON pr.doc_a = sa.doc_id
        |  JOIN sp sb ON pr.doc_b = sb.doc_id
        |  WHERE sa.split <> sb.split),
        |o AS (
        |  SELECT least(sa, sb) AS split_a, greatest(sa, sb) AS split_b,
        |         CASE WHEN sa <= sb THEN doc_a ELSE doc_b END AS da,
        |         CASE WHEN sa <= sb THEN doc_b ELSE doc_a END AS db
        |  FROM x),
        |sz AS (SELECT split, CAST(count(*) AS BIGINT) AS n
        |       FROM sp GROUP BY 1),
        |agg AS (
        |  SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(count(DISTINCT da) AS BIGINT) AS n_docs_a,
        |         CAST(count(DISTINCT db) AS BIGINT) AS n_docs_b
        |  FROM o GROUP BY 1, 2)
        |SELECT agg.split_a, agg.split_b, n_pairs, n_docs_a, n_docs_b,
        |       CAST(CAST(n_docs_a AS HUGEINT) * 1000000 // za.n
        |            AS BIGINT) AS leak_a_ppm,
        |       CAST(CAST(n_docs_b AS HUGEINT) * 1000000 // zb.n
        |            AS BIGINT) AS leak_b_ppm
        |FROM agg
        |JOIN sz za ON agg.split_a = za.split
        |JOIN sz zb ON agg.split_b = zb.split
        |ORDER BY split_a, split_b""".stripMargin,
    // Same language grid + modal tie rule, same distinct-hash dup
    // count, same truncating integer divisions.
    "q_dataset_card" ->
      """WITH d AS (
        |  SELECT doc_id, source, lang,
        |         CAST('0x' || substring(sha256(text), 1, 15) AS BIGINT)
        |           AS h,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |lg AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
        |  FROM d GROUP BY 1, 2),
        |lp AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_langs,
        |         min(CASE WHEN c = cmax THEN lang END) AS dominant_lang
        |  FROM (SELECT *, max(c) OVER (PARTITION BY source) AS cmax
        |        FROM lg)
        |  GROUP BY source),
        |st AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
        |         CAST(sum(n_toks) AS BIGINT) AS tokens_total
        |  FROM d GROUP BY source)
        |SELECT st.source, st.n_docs, lp.n_langs, lp.dominant_lang,
        |       st.tokens_total,
        |       CAST(st.tokens_total // st.n_docs AS BIGINT)
        |         AS mean_tokens,
        |       CAST(CAST(st.n_docs - st.n_distinct AS HUGEINT) * 1000000
        |            // st.n_docs AS BIGINT) AS within_dup_ppm
        |FROM st JOIN lp ON st.source = lp.source
        |ORDER BY st.source""".stripMargin,
    // Same portable content hash, same min-doc_id canonical rule,
    // same truncating token ppm.
    "q_dup_inflation" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CAST('0x' || substring(sha256(text), 1, 15) AS BIGINT)
        |           AS h,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |c AS (
        |  SELECT *, min(doc_id) OVER (PARTITION BY h) AS canon FROM d)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN doc_id = canon THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_canonical,
        |  CAST(SUM(n_toks) AS BIGINT) AS tokens_total,
        |  CAST(SUM(CASE WHEN doc_id = canon THEN n_toks ELSE 0 END)
        |       AS BIGINT) AS tokens_canonical,
        |  CAST((SUM(n_toks) - SUM(CASE WHEN doc_id = canon THEN n_toks
        |                               ELSE 0 END)) * 1000000
        |       // SUM(n_toks) AS BIGINT) AS dup_token_ppm
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    // Same bounded cell grid, same ceil-divide file count, same
    // truncating share ppm — all integer.
    "q_write_plan" ->
      """WITH c AS (
        |  SELECT lang, source,
        |         CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(CAST(len(string_split(text, ' ')) AS HUGEINT))
        |           AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1, 2),
        |w AS (SELECT *, CAST(sum(n_tokens) OVER () AS BIGINT)
        |        AS total_tokens FROM c)
        |SELECT lang, source, n_docs, n_tokens,
        |       (n_tokens + 49999) // 50000 AS n_files,
        |       CAST(CAST(n_tokens AS HUGEINT) * 1000000 //
        |            total_tokens AS BIGINT) AS share_ppm
        |FROM w ORDER BY lang, source""".stripMargin,
    // The q_minhash_dedup banding CTEs verbatim; same bitlength bins,
    // same wide-cast pair counts — all integer.
    "q_lsh_bucket_skew" ->
      s"""WITH $minhashBandCtes,
        |bk AS (
        |  SELECT band, sig, CAST(count(*) AS BIGINT) AS c
        |  FROM m GROUP BY 1, 2)
        |SELECT CAST(band AS BIGINT) AS band,
        |       CAST(length(bin(c)) AS BIGINT) AS size_bin,
        |       CAST(count(*) AS BIGINT) AS n_buckets,
        |       CAST(sum(c) AS BIGINT) AS n_docs,
        |       CAST(sum(CAST(c AS HUGEINT) * (c - 1) // 2) AS BIGINT)
        |         AS n_cand_pairs,
        |       max(c) AS max_bucket
        |FROM bk GROUP BY 1, 2 ORDER BY band, size_bin""".stripMargin,
    // The q_quality_score micro-unit score + the q_minhash_dedup pair
    // CTE verbatim; the single-window global rank equals the Spark
    // side's two-phase (bucket offsets + per-bucket) rank because the
    // bucket is a monotone coarsening of the rank key.
    "q_quality_vs_dup" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |q AS (
        |  SELECT doc_id,
        |         CAST(floor((
        |           CAST(0.4 AS DOUBLE) * least(len(toks) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) +
        |           CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - len(list_filter(toks, x -> x IN ('a','the','of','and','in'))) / CAST(len(toks) AS DOUBLE)) +
        |           CAST(0.3 AS DOUBLE) * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))
        |         ) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS quality_score_u
        |  FROM tok),
        |s AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2]) AS shingles
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |hs AS (
        |  SELECT doc_id,
        |         list_transform(shingles,
        |           sh -> CAST('0x' || substring(sha256(sh), 1, 15) AS BIGINT) % 2147483647) AS hs
        |  FROM s),
        |m AS (
        |  SELECT doc_id, b.range AS band,
        |         list_min(list_transform(hs,
        |           h -> (h * (b.range + 1) + 37 * b.range + 101) % 2147483647)) AS sig
        |  FROM hs, range(0, 8) b),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS u, c.doc_id AS v
        |  FROM m a JOIN m c ON a.band = c.band AND a.sig = c.sig
        |                   AND a.doc_id < c.doc_id),
        |dup AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT u AS doc_id FROM pairs UNION ALL SELECT v FROM pairs)),
        |r AS (
        |  SELECT doc_id, quality_score_u,
        |         row_number() OVER (ORDER BY quality_score_u, doc_id) AS rnk,
        |         count(*) OVER () AS n_total
        |  FROM q),
        |dd AS (
        |  SELECT r.doc_id, r.quality_score_u,
        |         (r.rnk - 1) * 10 // r.n_total AS decile,
        |         d.doc_id AS dup_id
        |  FROM r LEFT JOIN dup d ON r.doc_id = d.doc_id),
        |a AS (
        |  SELECT decile, count(*) AS n_docs, count(dup_id) AS n_dup,
        |         min(quality_score_u) AS q_min_u,
        |         max(quality_score_u) AS q_max_u
        |  FROM dd GROUP BY decile)
        |SELECT CAST(decile AS BIGINT) AS decile,
        |       CAST(n_docs AS BIGINT) AS n_docs,
        |       CAST(n_dup AS BIGINT) AS n_dup,
        |       CAST(1000000 * CAST(n_dup AS HUGEINT) // n_docs AS BIGINT) AS dup_ppm,
        |       q_min_u, q_max_u
        |FROM a ORDER BY decile""".stripMargin,
    "q_recursive_reach" -> recursiveReachOracle,
    "q_dedup_consensus" -> consensusOracle,
    "q_sequence_pack" ->
      """WITH b AS (
        |  SELECT lang, doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |         CAST('0x' || substring(sha256(
        |           'pack:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hk
        |  FROM documents),
        |c AS (
        |  SELECT lang, toks,
        |         CAST(sum(toks) OVER (PARTITION BY lang ORDER BY hk, doc_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM b)
        |SELECT lang, (cum - toks) // 2048 AS pack_id,
        |       count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens,
        |       (1000000 * CAST(sum(toks) AS BIGINT)) // 2048 AS fill_ppm
        |FROM c GROUP BY lang, (cum - toks) // 2048
        |ORDER BY lang, pack_id""".stripMargin,
    "q_token_budget" ->
      """WITH base AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |         CAST(floor(1e6 * len(list_distinct(string_split(text, ' ')))
        |           / len(string_split(text, ' '))) AS BIGINT) AS ttr_u
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, ttr_u, toks,
        |         CAST(row_number() OVER win AS BIGINT) AS sel_rank,
        |         CAST(sum(toks) OVER (win ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |           AS cum_toks
        |  FROM base
        |  WINDOW win AS (ORDER BY ttr_u DESC, doc_id))
        |SELECT sel_rank, doc_id, ttr_u, toks, cum_toks
        |FROM r WHERE cum_toks - toks < 20000
        |ORDER BY sel_rank""".stripMargin,
    // The oracle's single per-class window rank equals the Spark
    // side's two-phase (bucket offsets + in-bucket) rank: bucket =
    // hk div 2^53 is a monotone coarsening of hk, so (bucket, hk,
    // doc_id) order IS (hk, doc_id) order.
    "q_class_rebalance" ->
      """WITH base AS (
        |  SELECT doc_id, lang,
        |         CAST('0x' || substring(sha256('rb:' ||
        |           CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hk
        |  FROM documents),
        |t AS (
        |  SELECT min(cnt) AS target FROM (
        |    SELECT count(*) AS cnt FROM base GROUP BY lang)),
        |r AS (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY hk, doc_id) AS class_rank
        |  FROM base)
        |SELECT lang, CAST(class_rank AS BIGINT) AS class_rank, doc_id
        |FROM r, t WHERE class_rank <= t.target
        |ORDER BY lang, class_rank""".stripMargin,
    "q_stratified_sample" ->
      """SELECT lang, CAST(rn AS BIGINT) AS rn, doc_id, source FROM (
        |  SELECT lang, doc_id, source,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY CAST('0x' || substring(sha256(
        |             'strat:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
        |             doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin,
    // Same band-derived candidate pairs, same wedge join over the
    // SAME CnMaxDegree-capped adjacency (rank over neighbor-id order
    // — deterministic, edges are distinct), same exact ppm Jaccard;
    // trunc_nodes makes the cap visible, never silent.
    "q_common_neighbors" ->
      s"""WITH s AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2]) AS shingles
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |hs AS (
        |  SELECT doc_id,
        |         list_transform(shingles,
        |           sh -> CAST('0x' || substring(sha256(sh), 1, 15) AS BIGINT) % 2147483647) AS hs
        |  FROM s),
        |m AS (
        |  SELECT doc_id, b.range AS band,
        |         list_min(list_transform(hs,
        |           h -> (h * (b.range + 1) + 37 * b.range + 101) % 2147483647)) AS sig
        |  FROM hs, range(0, 8) b),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS u, c.doc_id AS v
        |  FROM m a JOIN m c ON a.band = c.band AND a.sig = c.sig
        |                   AND a.doc_id < c.doc_id),
        |und AS (
        |  SELECT u, v FROM pairs
        |  UNION ALL SELECT v AS u, u AS v FROM pairs),
        |deg AS (SELECT u AS node, count(*) AS deg FROM und GROUP BY u),
        |undc AS (
        |  SELECT u, v FROM (
        |    SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY v) AS rn
        |    FROM und)
        |  WHERE rn <= $CnMaxDegree),
        |wedges AS (
        |  SELECT x.v AS a, y.v AS b, count(*) AS common
        |  FROM undc x JOIN undc y ON x.u = y.u
        |  WHERE x.v < y.v GROUP BY x.v, y.v),
        |trunc AS (
        |  SELECT count(*) AS trunc_nodes FROM deg WHERE deg > $CnMaxDegree)
        |SELECT p.u AS doc_a, p.v AS doc_b,
        |       CAST(coalesce(w.common, 0) AS BIGINT) AS common,
        |       CAST(da.deg AS BIGINT) AS deg_a,
        |       CAST(db.deg AS BIGINT) AS deg_b,
        |       CASE WHEN da.deg + db.deg - 2 - coalesce(w.common, 0) > 0
        |            THEN CAST(1000000 * CAST(coalesce(w.common, 0) AS HUGEINT)
        |              // (da.deg + db.deg - 2 - coalesce(w.common, 0))
        |              AS BIGINT)
        |            ELSE 0 END AS cn_jaccard_ppm,
        |       CAST(t.trunc_nodes AS BIGINT) AS trunc_nodes
        |FROM pairs p
        |LEFT JOIN wedges w ON w.a = p.u AND w.b = p.v
        |JOIN deg da ON da.node = p.u
        |JOIN deg db ON db.node = p.v
        |CROSS JOIN trunc t
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_triangle_count" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2]) AS shingles
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |hs AS (
        |  SELECT doc_id,
        |         list_transform(shingles,
        |           sh -> CAST('0x' || substring(sha256(sh), 1, 15) AS BIGINT) % 2147483647) AS hs
        |  FROM s),
        |m AS (
        |  SELECT doc_id, b.range AS band,
        |         list_min(list_transform(hs,
        |           h -> (h * (b.range + 1) + 37 * b.range + 101) % 2147483647)) AS sig
        |  FROM hs, range(0, 8) b),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS u, c.doc_id AS v
        |  FROM m a JOIN m c ON a.band = c.band AND a.sig = c.sig
        |                   AND a.doc_id < c.doc_id),
        |tri AS (
        |  SELECT count(*) AS n_triangles
        |  FROM pairs e1 JOIN pairs e2 ON e1.v = e2.u
        |       JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
        |  GROUP BY node),
        |st AS (
        |  SELECT count(*) AS n_nodes,
        |         CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
        |  FROM deg),
        |ne AS (SELECT count(*) AS n_edges FROM pairs)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |       CAST(1000000 * 3 * CAST(n_triangles AS HUGEINT) // greatest(n_wedges, 1) AS BIGINT)
        |         AS closure_ppm
        |FROM st, ne, tri""".stripMargin,
    "q_dedup_degree" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2]) AS shingles
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |hs AS (
        |  SELECT doc_id,
        |         list_transform(shingles,
        |           sh -> CAST('0x' || substring(sha256(sh), 1, 15) AS BIGINT) % 2147483647) AS hs
        |  FROM s),
        |m AS (
        |  SELECT doc_id, b.range AS band,
        |         list_min(list_transform(hs,
        |           h -> (h * (b.range + 1) + 37 * b.range + 101) % 2147483647)) AS sig
        |  FROM hs, range(0, 8) b),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS a, c.doc_id AS b
        |  FROM m a JOIN m c ON a.band = c.band AND a.sig = c.sig
        |                   AND a.doc_id < c.doc_id),
        |deg AS (
        |  SELECT doc_id, count(*) AS degree FROM (
        |    SELECT a AS doc_id FROM pairs UNION ALL SELECT b FROM pairs)
        |  GROUP BY doc_id)
        |SELECT degree, count(*) AS n_docs FROM deg
        |GROUP BY degree ORDER BY degree""".stripMargin,
    "q_contamination" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         CAST('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS hb
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, hb,
        |         unnest(list_transform(range(1, len(toks) - 3),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |                toks[i+3] || ' ' || toks[i+4])) AS g
        |  FROM d WHERE len(toks) >= 5),
        |hg AS (SELECT doc_id, hb,
        |              CAST('0x' || substring(sha256(g), 1, 15) AS BIGINT) AS gh
        |       FROM sh),
        |train AS (SELECT DISTINCT gh FROM hg WHERE hb < 90),
        |test AS (SELECT DISTINCT doc_id, gh FROM hg WHERE hb >= 95)
        |SELECT t.doc_id, count(*) AS n_shingles, count(tr.gh) AS n_hit,
        |       CAST(1000000 * CAST(count(tr.gh) AS HUGEINT) // count(*) AS BIGINT) AS contamination_ppm
        |FROM test t LEFT JOIN train tr ON t.gh = tr.gh
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "q_weighted_sample" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         len(string_split(text, ' ')) AS w,
        |         CAST(CAST('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |              % 1000000007 + 1 AS DOUBLE) / CAST(1000000008 AS DOUBLE) AS u
        |  FROM documents)
        |SELECT doc_id, CAST(w AS BIGINT) AS w,
        |       round(ln(u) / w, 6) AS key_r
        |FROM d ORDER BY ln(u) / w DESC, doc_id LIMIT 20""".stripMargin,
    "q_train_test_split" ->
      """WITH d AS (
        |  SELECT lang,
        |         CAST('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS hb,
        |         len(string_split(text, ' ')) AS toks
        |  FROM documents)
        |SELECT CASE WHEN hb < 90 THEN 'train' WHEN hb < 95 THEN 'valid'
        |            ELSE 'test' END AS split,
        |       lang, count(*) AS n_docs,
        |       CAST(sum(toks) AS BIGINT) AS total_tokens
        |FROM d GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,
    "q_corpus_mix" ->
      """WITH d AS (
        |  SELECT source,
        |         CAST(substring(source, 4) AS BIGINT) % 4 + 1 AS w,
        |         CAST('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000 AS hb,
        |         len(string_split(text, ' ')) AS toks
        |  FROM documents)
        |SELECT source,
        |       max(CAST(w * 250 AS DOUBLE) / CAST(1000 AS DOUBLE)) AS target_rate,
        |       count(*) AS n_total,
        |       count(CASE WHEN hb < w * 250 THEN 1 END) AS n_kept,
        |       CAST(sum(CASE WHEN hb < w * 250 THEN toks ELSE 0 END) AS BIGINT) AS kept_tokens,
        |       round(CAST(count(CASE WHEN hb < w * 250 THEN 1 END) AS DOUBLE) /
        |             CAST(count(*) AS DOUBLE), 6) AS achieved_rate
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q_text_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |       round(avg(len(string_split(text, ' '))), 6) AS avg_tokens,
        |       round(avg(length(text)), 6) AS avg_chars,
        |       CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q_text_langdist" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |       round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 6) AS doc_share
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_exact_dedup" ->
      """SELECT sha256(text) AS content_hash, min(doc_id) AS keep_doc_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_doc_id""".stripMargin,
    "q_dedup_corpus" ->
      """SELECT doc_id, lang, source
        |FROM documents
        |QUALIFY row_number() OVER (PARTITION BY sha256(text)
        |  ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_normalized" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |         CASE WHEN doc_id % 3 = 0 THEN upper(text) || '!!'
        |              WHEN doc_id % 3 = 1
        |                THEN regexp_replace(text, ' ', '  ,  ', 'g')
        |              ELSE '  ' || text || '  ' END AS text
        |  FROM documents),
        |norm AS (
        |  SELECT doc_id,
        |         sha256(trim(regexp_replace(regexp_replace(lower(text),
        |           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS h
        |  FROM all_docs)
        |SELECT min(doc_id) AS keep_doc_id, max(doc_id) AS max_member,
        |       count(*) AS n_members
        |FROM norm GROUP BY h
        |ORDER BY keep_doc_id""".stripMargin,
    "q_curation_pipeline" ->
      ("""WITH scored AS (
        |  SELECT doc_id, lang,
        |         CAST(len(toks) AS BIGINT) AS n_tokens,
        |         CAST(floor((
        |           CAST(0.4 AS DOUBLE) * least(len(toks) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) +
        |           CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - len(list_filter(toks, x -> x IN ('a','the','of','and','in'))) / CAST(len(toks) AS DOUBLE)) +
        |           CAST(0.3 AS DOUBLE) * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))
        |         ) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS quality_u,
        |         sha256(trim(regexp_replace(regexp_replace(lower(text),
        |           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS nh
        |  FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS toks
        |        FROM documents)
        |  WHERE CAST(floor((
        |           CAST(0.4 AS DOUBLE) * least(len(toks) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) +
        |           CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - len(list_filter(toks, x -> x IN ('a','the','of','and','in'))) / CAST(len(toks) AS DOUBLE)) +
        |           CAST(0.3 AS DOUBLE) * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))
        |         ) * CAST(1000000.0 AS DOUBLE)) AS BIGINT) >= 600000),
        |deduped AS (
        |  SELECT * FROM scored
        |  QUALIFY row_number() OVER (PARTITION BY nh ORDER BY doc_id) = 1),
        |capped AS (
        |  SELECT * FROM deduped
        |  QUALIFY row_number() OVER (PARTITION BY lang
        |    ORDER BY CAST('0x' || substring(sha256(
        |      CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000,
        |    doc_id) <= 30)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |       CAST(sum(quality_u) AS BIGINT) AS sum_quality_u
        |FROM capped GROUP BY lang ORDER BY lang""").stripMargin,
    "q_minhash_dedup" -> minhashOracleSql,
    "q_dedup_incremental" -> dedupIncrementalOracleSql,
    "q_dedup_cascade" -> dedupCascadeOracleSql,
    "q_dedup_pagerank" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2]) AS shingles
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |hs AS (
        |  SELECT doc_id,
        |         list_transform(shingles,
        |           sh -> CAST('0x' || substring(sha256(sh), 1, 15) AS BIGINT) % 2147483647) AS hs
        |  FROM s),
        |m AS (
        |  SELECT doc_id, b.range AS band,
        |         list_min(list_transform(hs,
        |           h -> (h * (b.range + 1) + 37 * b.range + 101) % 2147483647)) AS sig
        |  FROM hs, range(0, 8) b),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM m a JOIN m c ON a.band = c.band AND a.sig = c.sig AND a.doc_id < c.doc_id),
        |e AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
        |nodes AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |p0 AS (
        |  SELECT id, deg, n, 1000000000000 // n AS pr_u FROM nodes, nn),
        |p1 AS (
        |  SELECT p.id, p.deg, p.n,
        |         150000000000 // p.n +
        |           85 * coalesce(CAST(sum(q.pr_u // q.deg) AS BIGINT), 0) // 100 AS pr_u
        |  FROM p0 p
        |  LEFT JOIN e ON e.dst = p.id
        |  LEFT JOIN p0 q ON q.id = e.src
        |  GROUP BY p.id, p.deg, p.n),
        |p2 AS (
        |  SELECT p.id, p.deg, p.n,
        |         150000000000 // p.n +
        |           85 * coalesce(CAST(sum(q.pr_u // q.deg) AS BIGINT), 0) // 100 AS pr_u
        |  FROM p1 p
        |  LEFT JOIN e ON e.dst = p.id
        |  LEFT JOIN p1 q ON q.id = e.src
        |  GROUP BY p.id, p.deg, p.n),
        |p3 AS (
        |  SELECT p.id, p.deg, p.n,
        |         150000000000 // p.n +
        |           85 * coalesce(CAST(sum(q.pr_u // q.deg) AS BIGINT), 0) // 100 AS pr_u
        |  FROM p2 p
        |  LEFT JOIN e ON e.dst = p.id
        |  LEFT JOIN p2 q ON q.id = e.src
        |  GROUP BY p.id, p.deg, p.n)
        |SELECT id AS doc_id, deg, pr_u FROM p3 ORDER BY doc_id""".stripMargin,
    "q_dedup_clusters" ->
      """WITH RECURSIVE s AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2]) AS shingles
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |hs AS (
        |  SELECT doc_id,
        |         list_transform(shingles,
        |           sh -> CAST('0x' || substring(sha256(sh), 1, 15) AS BIGINT) % 2147483647) AS hs
        |  FROM s),
        |m AS (
        |  SELECT doc_id, b.range AS band,
        |         list_min(list_transform(hs,
        |           h -> (h * (b.range + 1) + 37 * b.range + 101) % 2147483647)) AS sig
        |  FROM hs, range(0, 8) b),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS a, c.doc_id AS b
        |  FROM m a JOIN m c ON a.band = c.band AND a.sig = c.sig
        |                   AND a.doc_id < c.doc_id),
        |sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN sym e ON r.dst = e.a)
        |SELECT src AS doc_id,
        |       CAST(least(src, min(dst)) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    "q_cluster_stats" ->
      """WITH RECURSIVE s AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i + 1] || ' ' ||
        |                string_split(text, ' ')[i + 2]) AS shingles
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |hs AS (
        |  SELECT doc_id,
        |         list_transform(shingles,
        |           sh -> CAST('0x' || substring(sha256(sh), 1, 15) AS BIGINT) % 2147483647) AS hs
        |  FROM s),
        |m AS (
        |  SELECT doc_id, b.range AS band,
        |         list_min(list_transform(hs,
        |           h -> (h * (b.range + 1) + 37 * b.range + 101) % 2147483647)) AS sig
        |  FROM hs, range(0, 8) b),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS a, c.doc_id AS b
        |  FROM m a JOIN m c ON a.band = c.band AND a.sig = c.sig
        |                   AND a.doc_id < c.doc_id),
        |sym AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN sym e ON r.dst = e.a),
        |cl AS (
        |  SELECT src AS doc_id,
        |         CAST(least(src, min(dst)) AS BIGINT) AS cluster_id
        |  FROM reach GROUP BY src),
        |sizes AS (
        |  SELECT cluster_id, count(*) AS csize FROM cl GROUP BY cluster_id)
        |SELECT csize, count(*) AS n_clusters,
        |       CAST(sum(csize) AS BIGINT) AS n_docs
        |FROM sizes GROUP BY csize ORDER BY csize""".stripMargin,
    "q_cosine_topk" ->
      """WITH base AS (
        |  SELECT vec_id, embedding, label,
        |         sqrt(list_reduce(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v)) AS norm
        |  FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid, c.label,
        |         round(list_reduce(list_transform(list_zip(q.embedding, c.embedding),
        |                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
        |               / (q.norm * c.norm), 6) AS cos
        |  FROM base q, base c
        |  WHERE q.vec_id < 20 AND q.vec_id != c.vec_id)
        |SELECT qid, CAST(row_number() OVER win AS BIGINT) AS rn, cid, cos
        |FROM p
        |WINDOW win AS (PARTITION BY qid ORDER BY cos DESC, cid)
        |QUALIFY row_number() OVER win <= 5
        |ORDER BY qid, rn""".stripMargin,
    "q_knn_classify" ->
      """WITH base AS (
        |  SELECT vec_id, embedding, label,
        |         sqrt(list_reduce(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v)) AS norm
        |  FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid, c.label,
        |         round(list_reduce(list_transform(list_zip(q.embedding, c.embedding),
        |                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
        |               / (q.norm * c.norm), 6) AS cos
        |  FROM base q, base c
        |  WHERE q.vec_id < 20 AND q.vec_id != c.vec_id),
        |top5 AS (
        |  SELECT qid, label FROM p
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) <= 5),
        |votes AS (
        |  SELECT qid, label, count(*) AS votes FROM top5 GROUP BY qid, label)
        |SELECT qid, label AS pred_label, votes
        |FROM votes
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) = 1
        |ORDER BY qid""".stripMargin,
    "q_multimodal_project" ->
      """SELECT d.doc_id, d.lang,
        |       CAST(length(d.text) AS BIGINT) AS text_chars,
        |       e.label,
        |       CAST(len(e.embedding) AS BIGINT) AS emb_dim,
        |       round(CAST(e.embedding[1] AS DOUBLE), 6) AS emb_first
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |ORDER BY d.doc_id""".stripMargin)
}
