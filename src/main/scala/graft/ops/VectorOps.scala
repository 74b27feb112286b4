package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.Det._
import graft.functions.PortableHashes

/** Vector / multimodal operators for the LLM-data pipeline over
  * `embeddings` (+ `documents` for the binary-payload plumbing):
  * LSH-bucketed embedding near-dup (random-hyperplane signatures),
  * IVF-style ANN (coarse centroids → cluster-local search), and
  * opaque-binary multimodal column handling.
  *
  * Scale shapes: signature/assignment computation is scan-only; the
  * only shuffles are the bucket/cluster equi-joins. Nothing here is
  * all-pairs — that is the entire point of the SRP and IVF variants
  * relative to LlmOps.cosineTopk's brute-force baseline.
  */
object VectorOps {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  /** Native codegen'd dot product (see graft.functions.ArrayDotProduct
    * — same left-to-right IEEE fold as DuckDB's list_reduce, so
    * oracles are unchanged; ~40x cheaper than the interpreted HOF). */
  private def dot(a: String, b: String): Column =
    graft.functions.GraftFunctions.array_dot(col(a), col(b))

  /** embeddings + precomputed L2 norm (once per vector, not per pair). */
  private[graft] def withNorm(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"),
        sqrt(graft.functions.GraftFunctions.array_dot(col("embedding"), col("embedding"))).as("norm"))

  // ------------------------------------------------- SRP-LSH near-duplicate

  /** Banded SRP-LSH geometry DEFAULTS. Bits per band set bucket
    * granularity (2^bits buckets per band — the 100 TB lever that
    * keeps any one bucket's candidate join bounded); bands are the
    * recall lever (a pair is a candidate if it agrees on ALL bits of
    * ANY band — the standard OR-of-ANDs construction). r2 shipped a
    * single 8-bit band = 256 global buckets; 4×16 keeps per-band
    * buckets 65536-way while quadrupling recall via the OR.
    *
    * r4: the geometry is a RUNTIME conf — `spark.graft.srp.bands` /
    * `spark.graft.srp.bits` override the defaults per session, and
    * [[neardupOracle]] derives the matching DuckDB SQL for any
    * geometry (the declared `oracles` entry is generated for the
    * defaults, so driver runs are unchanged). SrpGeometrySpec proves
    * the operator + recall hold at a second (6×24) geometry. */
  private[graft] val SrpBands = 4
  private[graft] val SrpBits = 16

  private def srpGeometry(s: SparkSession): (Int, Int) = (
    s.conf.get("spark.graft.srp.bands", SrpBands.toString).toInt,
    s.conf.get("spark.graft.srp.bits", SrpBits.toString).toInt)

  /** Random-hyperplane (SRP) LSH coefficients: g(p,i) =
    * (hash(p:i) mod 2001 - 1000)/1000, derived from the portable hash
    * so both engines build the SAME planes with no shared random
    * state. A given plane's values are independent of the geometry
    * (plane p is the same vector whether it serves band p/16 or band
    * p/24), so coefficients are computed once per plane-count here
    * (plain JDK sha256 — the exact formula DuckDB's oracle evaluates
    * in its `gw` CTE) and inlined as an array literal: the per-row
    * signature is then pure arithmetic, no crypto hash in the scan. */
  private val planeCache =
    scala.collection.concurrent.TrieMap.empty[Int, Seq[Seq[Double]]]
  private[graft] def srpPlanes(nPlanes: Int): Seq[Seq[Double]] =
    planeCache.getOrElseUpdate(nPlanes, (0 until nPlanes).map { p =>
      (1 to 64).map { i =>
        val md = java.security.MessageDigest.getInstance("SHA-256")
        val hex = md.digest(s"$p:$i".getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString.substring(0, 15)
        ((java.lang.Long.parseLong(hex, 16) % 2001) - 1000).toDouble / 1000.0
      }
    })

  /** band b's sig bit i = sign(v · g_{b*bits+i}), packed into `bits`
    * bits; one signature per band — computed by the native
    * SrpSignatures expression (one flat generated loop over all
    * bands×bits planes; see its Scaladoc for why neither the HOF form
    * nor a 64-dot expression tree survives at scale). */
  private def srpBandSigs(bands: Int, bits: Int): Column =
    graft.functions.SrpSignatures.signatures(
      col("embedding"), srpPlanes(bands * bits), bits)

  /** Embedding-cosine near-dup, banded-LSH-bucketed: vectors sharing a
    * full bits-wide SRP signature in any band become a candidate
    * pair; exact cosine runs only over DISTINCT candidates; pairs with
    * cos ≥ 0.25 survive. Never all-pairs: per-band candidate volume is
    * set by bucket collisions (2^bits-way), recall by the band count —
    * both session confs (see SrpBands/SrpBits above). */
  def embeddingNeardup(s: SparkSession, dir: String): DataFrame = {
    val (bands, bits) = srpGeometry(s)
    val banded = withNorm(s, dir)
      .withColumn("band_sigs", srpBandSigs(bands, bits))
      .select(col("vec_id"), posexplode(col("band_sigs")).as(Seq("band", "sig")))
    val cand = banded.select(col("band"), col("sig"), col("vec_id").as("vec_a"))
      .join(banded.select(col("band"), col("sig"), col("vec_id").as("vec_b")),
        Seq("band", "sig"))
      .where(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
      .distinct()
    val e = withNorm(s, dir)
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
        col("norm").as("norm_a")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
        col("norm").as("norm_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        r6(dot("emb_a", "emb_b") / (col("norm_a") * col("norm_b"))).as("cos"))
      .where(col("cos") >= 0.25)
      .orderBy("vec_a", "vec_b")
  }

  /** SRP-LSH recall/precision eval on a bounded slice — the
    * q_ann_recall twin for the near-dup path: exact cosine truth is
    * only computable all-pairs, so the eval runs on a fixed 200-
    * vector sample (broadcastable at any corpus scale — the standard
    * way recall is monitored in production, since full-corpus truth
    * is exactly what LSH exists to avoid). Emits raw band-candidate
    * count, truth count, hits, and recall/precision as exact ppm
    * integers (ratios of arbitrary counts can tie at the 7th
    * decimal; `div greatest(n, 1)` also keeps an empty slice from
    * dividing by zero differently per engine). Candidates come from
    * banding the slice itself — a vector's signature is independent
    * of the rest of the corpus, so this equals restricting the
    * corpus-wide band join to the slice.
    *
    * Reading the number: truth uses the operator's own mild 0.25
    * emit threshold, where SRP recall is LOW BY DESIGN — at cos =
    * 0.25 (θ ≈ 75°) the per-bit agreement is ~0.58, so a 16-bit
    * band matches with p ≈ 0.58^16 ≈ 1.6e-4 and 4 bands give ~6e-4;
    * the measured 2/442 at gate SF is that OR-of-ANDs prediction,
    * not a defect. LSH is a near-DUPLICATE sieve: on planted
    * high-cosine dups SrpRecallSpec demonstrates the high-recall
    * regime, and this query is the production dashboard number that
    * would catch a mis-tuned geometry drifting either way. */
  def srpRecall(s: SparkSession, dir: String): DataFrame = {
    val (bands, bits) = srpGeometry(s)
    val slice = withNorm(s, dir).where(col("vec_id") < 200)
    val banded = slice.withColumn("band_sigs", srpBandSigs(bands, bits))
      .select(col("vec_id"), posexplode(col("band_sigs")).as(Seq("band", "sig")))
    val cand = banded.select(col("band"), col("sig"), col("vec_id").as("vec_a"))
      .join(banded.select(col("band"), col("sig"), col("vec_id").as("vec_b")),
        Seq("band", "sig"))
      .where(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b")).distinct()
    val truth = slice.select(col("vec_id").as("vec_a"),
        col("embedding").as("ea"), col("norm").as("na"))
      .crossJoin(broadcast(slice.select(col("vec_id").as("vec_b"),
        col("embedding").as("eb"), col("norm").as("nb"))))
      .where(col("vec_a") < col("vec_b"))
      .where(r6(dot("ea", "eb") / (col("na") * col("nb"))) >= 0.25)
      .select(col("vec_a"), col("vec_b"))
    val hit = truth.join(cand, Seq("vec_a", "vec_b"))
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        expr("1000000 * n_hit div greatest(n_truth, 1)").as("recall_ppm"),
        expr("1000000 * n_hit div greatest(n_cand, 1)").as("precision_ppm"))
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * drop all but one member of each semantic-duplicate neighborhood,
    * keeping the member FARTHEST from its cluster centroid (the
    * paper's rule — low-centroid-similarity examples carry the most
    * marginal information). Composed from this repo's proven pieces,
    * never all-pairs:
    *  - candidate pairs from the banded-SRP signatures (codegen'd
    *    SrpSignatures, same `spark.graft.srp.*` geometry conf as
    *    q_embedding_neardup) — candidate volume is set by bucket
    *    collisions, not n^2;
    *  - exact cosine only over distinct candidates (codegen'd
    *    ArrayDotProduct);
    *  - the q_ann_ivf centroid assignment (16 deterministic coarse
    *    centroids, broadcast) supplies the cluster scope and the
    *    centroid similarity;
    *  - pair-local keep rule: a vector is dropped iff some
    *    tau-similar same-cluster partner has strictly lower
    *    (ccos, vec_id) — so every duplicate pair destroys exactly one
    *    side and the locally-most-marginal member survives. The
    *    emitted witness is the strongest dominating partner
    *    (max cos, then min id).
    * Output: one row per dropped vector. All arithmetic is the
    * engine-portable fold/round already used by the ANN family, so
    * the whole operator — LSH recall, clustering, and keep rule —
    * hash-checks against DuckDB. */
  /** SemDeDup's own LSH geometry (conf-overridable like the SRP one):
    * coarser than q_embedding_neardup's 4×16 because the cluster
    * scope prunes candidates AFTER banding — 8 bands × 8 bits casts a
    * wide recall net whose volume the same-cluster filter then cuts
    * ~16×. `bits` stays the 100 TB bucket-granularity lever. */
  private def semdedupGeometry(s: SparkSession): (Int, Int) = (
    s.conf.get("spark.graft.semdedup.bands", "8").toInt,
    s.conf.get("spark.graft.semdedup.bits", "8").toInt)

  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val (bands, bits) = semdedupGeometry(s)
    val base = withNorm(s, dir)
    val cents = base.where(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"),
        col("norm").as("cent_norm"))
    val assignW = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id"))
    val assign = base.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        r6(dot("embedding", "cent_emb") / (col("norm") * col("cent_norm"))).as("ccos"))
      .withColumn("ar", row_number().over(assignW)).where(col("ar") === 1)
      .select(col("vec_id"), col("cent_id").as("cluster_id"), col("ccos"))
    val banded = base
      .withColumn("band_sigs", srpBandSigs(bands, bits))
      .select(col("vec_id"), posexplode(col("band_sigs")).as(Seq("band", "sig")))
    val cand = banded.select(col("band"), col("sig"), col("vec_id").as("vec_a"))
      .join(banded.select(col("band"), col("sig"), col("vec_id").as("vec_b")),
        Seq("band", "sig"))
      .where(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
      .distinct()
    val pairs = cand
      .join(base.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
        col("norm").as("norm_a")), "vec_a")
      .join(base.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
        col("norm").as("norm_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        r6(dot("emb_a", "emb_b") / (col("norm_a") * col("norm_b"))).as("cos"))
      .where(col("cos") >= 0.25)
    val withClusters = pairs
      .join(assign.select(col("vec_id").as("vec_a"),
        col("cluster_id").as("cl_a"), col("ccos").as("ccos_a")), "vec_a")
      .join(assign.select(col("vec_id").as("vec_b"),
        col("cluster_id").as("cl_b"), col("ccos").as("ccos_b")), "vec_b")
      .where(col("cl_a") === col("cl_b"))
    val aDropped = col("ccos_a") > col("ccos_b") ||
      (col("ccos_a") === col("ccos_b") && col("vec_a") > col("vec_b"))
    val drops = withClusters.select(
      col("cl_a").as("cluster_id"),
      when(aDropped, col("vec_a")).otherwise(col("vec_b")).as("dropped_id"),
      when(aDropped, col("vec_b")).otherwise(col("vec_a")).as("witness_id"),
      col("cos"))
    val bestW = Window.partitionBy(col("dropped_id"))
      .orderBy(col("cos").desc, col("witness_id"))
    drops.withColumn("rn", row_number().over(bestW)).where(col("rn") === 1)
      .select(col("cluster_id"), col("dropped_id"), col("witness_id"), col("cos"))
      .orderBy("cluster_id", "dropped_id")
  }

  // --------------------------------------------------------------- IVF ANN

  /** IVF-style ANN: 16 coarse centroids (deterministically the first
    * 16 vectors — a real deployment k-means's a sample offline), every
    * vector assigned to its nearest centroid via a broadcast join +
    * per-vector argmax, then each query (vec_id < 20) searches ONLY
    * its own cluster (nprobe=1) for its top-3 neighbors. The search
    * shuffle is on cluster id — candidate work per query is |cluster|,
    * not |corpus|. */
  /** IVF coarse assignment (vec_id → nearest of the 16 seed
    * centroids) — the shared scope rule of the ANN queries and the
    * cluster-labeling composition (q_cluster_topterms). */
  private[graft] def ivfAssign(s: SparkSession, dir: String): DataFrame = {
    val base = withNorm(s, dir)
    val cents = base.where(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"),
        col("norm").as("cent_norm"))
    val assignW = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id"))
    base.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        r6(dot("embedding", "cent_emb") / (col("norm") * col("cent_norm"))).as("ccos"))
      .withColumn("ar", row_number().over(assignW)).where(col("ar") === 1)
      .select(col("vec_id"), col("cent_id").as("cluster_id"))
  }

  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val base = withNorm(s, dir)
    val assign = ivfAssign(s, dir)
    val clustered = base.join(assign, "vec_id")
    val q = clustered.where(col("vec_id") < 20)
      .select(col("cluster_id"), col("vec_id").as("qid"),
        col("embedding").as("q_emb"), col("norm").as("q_norm"))
    val c = clustered.select(col("cluster_id"), col("vec_id").as("cid"),
      col("embedding").as("c_emb"), col("norm").as("c_norm"))
    val topW = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    q.join(c, "cluster_id")
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cluster_id"), col("cid"),
        r6(dot("q_emb", "c_emb") / (col("q_norm") * col("c_norm"))).as("cos"))
      .withColumn("rn", row_number().over(topW).cast("long"))
      .where(col("rn") <= 3)
      .select(col("qid"), col("cluster_id"), col("rn"), col("cid"), col("cos"))
      .orderBy("qid", "rn")
  }

  /** Multi-probe IVF (nprobe=2): each query searches its TWO nearest
    * centroids' clusters — the standard recall lever when coarse
    * clusters split a query's true neighborhood. Candidates grow from
    * |cluster| to 2|cluster| per query; recall is provably ≥ the
    * nprobe=1 variant (candidate superset — asserted in
    * AnnRecallSpec). */
  def annIvfMultiprobe(s: SparkSession, dir: String): DataFrame = {
    val base = withNorm(s, dir)
    val cents = base.where(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"),
        col("norm").as("cent_norm"))
    val rankW = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id"))
    val ranked = base.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        r6(dot("embedding", "cent_emb") / (col("norm") * col("cent_norm"))).as("ccos"))
      .withColumn("ar", row_number().over(rankW))
    // data side: each vector lives in its single nearest cluster
    val assign = ranked.where(col("ar") === 1)
      .select(col("vec_id"), col("cent_id").as("cluster_id"))
    val clustered = base.join(assign, "vec_id")
    // query side: probe the top-2 clusters
    val probes = ranked.where(col("ar") <= 2 && col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("cent_id").as("cluster_id"))
    val q = probes.join(
      base.select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
        col("norm").as("q_norm")), "qid")
    val c = clustered.select(col("cluster_id"), col("vec_id").as("cid"),
      col("embedding").as("c_emb"), col("norm").as("c_norm"))
    val topW = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    q.join(c, "cluster_id")
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        r6(dot("q_emb", "c_emb") / (col("q_norm") * col("c_norm"))).as("cos"))
      .distinct() // a candidate can appear via both probed clusters
      .withColumn("rn", row_number().over(topW).cast("long"))
      .where(col("rn") <= 3)
      .select(col("qid"), col("rn"), col("cid"), col("cos"))
      .orderBy("qid", "rn")
  }

  /** One k-means training iteration for the IVF coarse quantizer —
    * the step that turns q_ann_ivf's fixed seed centroids into
    * learned ones: assign every vector to its nearest centroid (the
    * same broadcast-16-centroids × scan shape the IVF query uses),
    * then recompute each centroid as the member mean, emitted as
    * (cluster, dim) rows so the output stays atomic for the gate.
    * The per-dimension sums ride ONE combine-enabled shuffle keyed on
    * (cluster, dim) — 16 × 64 groups regardless of corpus size — and
    * are routed through DECIMAL(18,6), with the mean shipped as exact
    * integer micro-units so partial-aggregation order AND the mean
    * division stay engine-exact (the double mean ties at the 7th
    * decimal). Iterating to convergence is a driver-side loop
    * over this step with reseeded centroid literals — each round is
    * one scan + one bounded shuffle, the standard distributed k-means
    * shape. */
  def kmeansStep(s: SparkSession, dir: String): DataFrame =
    kmeansStepFrom(s, dir, seedCentroids(s, dir))

  /** The IVF seed centroids (first 16 vectors) with norms — the
    * iteration-0 input of the training loop. */
  private[graft] def seedCentroids(s: SparkSession, dir: String): DataFrame =
    withNorm(s, dir).where(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"),
        col("norm").as("cent_norm"))

  /** One k-means step against an arbitrary centroid frame
    * (cent_id long, cent_emb array<float>, cent_norm double) — the
    * reseedable core the driver-side training loop iterates
    * (KmeansTrainSpec proves the objective is non-decreasing). */
  private[graft] def kmeansStepFrom(s: SparkSession, dir: String,
                                    cents: DataFrame): DataFrame = {
    val base = withNorm(s, dir)
    val assignW = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id"))
    val assign = base.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        r6(dot("embedding", "cent_emb") / (col("norm") * col("cent_norm"))).as("ccos"))
      .withColumn("ar", row_number().over(assignW)).where(col("ar") === 1)
      .select(col("vec_id"), col("cent_id").as("cluster_id"))
    base.join(assign, "vec_id")
      .select(col("cluster_id"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("cluster_id"), col("dim"))
      .agg(count(lit(1)).as("n_members"),
        // exact integer micro-units end to end: the decimal(18,6) sum
        // times 1e6 is integer-valued, and integer div truncates
        // toward zero in both engines — a double mean + round(_, 6)
        // ties at the 7th decimal (decimal-sum/n has exact 7-decimal
        // representations) and the engines round ties apart
        (sum(col("v").cast("double").cast("decimal(18,6)")) * lit(1000000))
          .cast("long").as("sum_u"))
      .select(col("cluster_id"), col("dim").cast("long").as("dim"),
        col("n_members"),
        expr("sum_u div n_members").as("centroid_u"))
      .orderBy("cluster_id", "dim")
  }

  /** ANN recall eval: per query, recall@3 of IVF (nprobe=1) and
    * multi-probe IVF (nprobe=2) against exact brute-force ground
    * truth — the eval-harness number a pipeline needs before trusting
    * ANN for retrieval or semantic dedup at scale. The truth pass is
    * the bounded broadcast query block × one corpus scan (exact); the
    * two ANN paths are the production operators reused verbatim; the
    * recall join then touches only (queries × 3)-row frames.
    * Multiprobe recall ≥ single-probe per query (candidate superset —
    * property-asserted in AnnRecallSpec; this query puts the number
    * in the data where a capacity dashboard reads it). k = 3 < 128,
    * so r6 on the recall ratios is cross-engine exact. */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val base = withNorm(s, dir)
    val q = base.where(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val c = base.select(col("vec_id").as("cid"), col("embedding").as("c_emb"),
      col("norm").as("c_norm"))
    val truthW = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("cid"))
    val truth = c.crossJoin(broadcast(q))
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        r6(dot("q_emb", "c_emb") / (col("q_norm") * col("c_norm"))).as("cos"))
      .withColumn("rn", row_number().over(truthW))
      .where(col("rn") <= 3)
      .select(col("qid"), col("cid"))
    val ivf = annIvf(s, dir).select(col("qid"), col("cid"), lit(1L).as("hit_i"))
    val mp = annIvfMultiprobe(s, dir)
      .select(col("qid"), col("cid"), lit(1L).as("hit_m"))
    truth.join(ivf, Seq("qid", "cid"), "left")
      .join(mp, Seq("qid", "cid"), "left")
      .groupBy(col("qid"))
      .agg(count(col("hit_i")).as("n_hit_ivf"),
        count(col("hit_m")).as("n_hit_mp"))
      .select(col("qid"), col("n_hit_ivf"),
        r6(col("n_hit_ivf").cast("double") / lit(3.0)).as("recall_ivf"),
        col("n_hit_mp"),
        r6(col("n_hit_mp").cast("double") / lit(3.0)).as("recall_mp"))
      .orderBy("qid")
  }

  // --------------------------------------------- hubness / selection / MMR

  /** k-occurrence (hubness) distribution over top-k neighbor lists —
    * the standard intrinsic-dimensionality audit for an embedding
    * space (Radovanović et al., JMLR 2010): count how often each
    * vector appears in other vectors' top-10 lists, then histogram
    * those counts. A heavy right tail (hub vectors appearing in
    * hundreds of lists) predicts poor ANN recall and distorted kNN
    * label votes BEFORE an index is built or a dedup threshold
    * trusted; the j = 0 row (anti-hubs, never retrieved) is the
    * other half of the same pathology.
    *
    * Scale shape: the query slice (100 vectors) is the bounded
    * broadcast side of one corpus scan — the q_cosine_topk physics;
    * the per-query top-10 window is rank-only, so WindowGroupLimit
    * prunes to ≤10 rows per query map-side before the 100-key
    * shuffle. Occurrence + histogram are two combine aggs whose key
    * spaces (corpus ids appearing in ≤1000 list slots; occurrence
    * values ≤100) are collision-bounded; the occurrence frame is
    * pinned ONCE (≤1000 rows) so the anti-hub complement
    * row doesn't re-run the scan+window through Spark's no-CSE
    * union branches. At production scale the same audit runs on any
    * fixed query sample — hubness is a property of the space,
    * estimated from a slice by design. */
  def hubness(s: SparkSession, dir: String): DataFrame = {
    val base = withNorm(s, dir)
    val q = base.where(col("vec_id") < 100)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val topW = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    val top = base.select(col("vec_id").as("cid"), col("embedding").as("c_emb"),
        col("norm").as("c_norm"))
      .crossJoin(broadcast(q))
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        r6(dot("q_emb", "c_emb") / (col("q_norm") * col("c_norm"))).as("cos"))
      .withColumn("rn", row_number().over(topW))
      .where(col("rn") <= 10)
    val occ = Tables.pin(top.groupBy(col("cid")).agg(count(lit(1)).as("occ")))
    val dist = occ.groupBy(col("occ")).agg(count(lit(1)).as("n_vectors"))
      .select(col("occ").as("k_occurrence"), col("n_vectors"))
    val zero = base.agg(count(lit(1)).as("n_total"))
      .crossJoin(occ.agg(count(lit(1)).as("n_in")))
      .select(lit(0L).as("k_occurrence"),
        (col("n_total") - col("n_in")).as("n_vectors"))
    dist.union(zero).orderBy("k_occurrence")
  }

  /** Greedy k-center (farthest-point) coreset selection over the
    * embedding corpus — the classic 2-approximation (Gonzalez 1985)
    * that active-learning and data-selection pipelines use to pick a
    * maximally-spread training subset: seed with the lowest id, then
    * repeatedly add the vector FARTHEST from its nearest chosen
    * center (here: lowest max-cosine, ties to the smaller id). Emits
    * the selection order and each pick's coverage cosine — the
    * monotone radius curve that tells a curator where coverage
    * saturates and k can stop.
    *
    * Scale shape: exactly k = 8 corpus scans, each a scan-side
    * projection — the centers chosen so far are inlined as ≤8
    * array literals, so "distance to nearest center" is a
    * greatest() over codegen'd dot products with NO shuffle, and
    * each argmin is a TakeOrdered(1), never a global sort. The only
    * driver state is the k (id, embedding, norm) tuples (bounded:
    * 8 × 64 floats — the bloom-bitmask collect precedent); k scans
    * is the textbook lower bound for exact greedy k-center, and at
    * 100 TB each scan is embarrassingly parallel. The oracle unrolls
    * the same greedy recursion as 7 incremental CTE levels. */
  def kcenterSelect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = withNorm(s, dir)
    val seed = base.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id"), col("embedding"), col("norm")).collect().head
    var centers = Seq((seed.getLong(0),
      seed.getSeq[Float](1).map(_.toDouble), seed.getDouble(2)))
    val picks = scala.collection.mutable.ListBuffer(
      (0L, seed.getLong(0), 1000000L))
    for (step <- 1L to 7L) {
      val close = centers.map { case (_, emb, nrm) =>
        r6(graft.functions.GraftFunctions.array_dot(
          col("embedding"), typedLit(emb)) / (col("norm") * lit(nrm)))
      }.reduce((a, b) => greatest(a, b))
      val pick = base.where(!col("vec_id").isin(centers.map(_._1): _*))
        .select(col("vec_id"), col("embedding"), col("norm"),
          close.as("closeness"))
        .orderBy(col("closeness").asc, col("vec_id").asc).limit(1)
        .select(col("vec_id"), col("embedding"), col("norm"),
          expr("cast(round(closeness * cast(1000000 as double), 0) as bigint)")
            .as("ppm"))
        .collect().head
      centers = centers :+ ((pick.getLong(0),
        pick.getSeq[Float](1).map(_.toDouble), pick.getDouble(2)))
      picks += ((step, pick.getLong(0), pick.getLong(3)))
    }
    picks.toSeq.toDF("step", "center_id", "far_cos_ppm")
      .orderBy("step")
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998) — the diversity-aware serving step after retrieval:
    * from each query's top-20 cosine candidates, greedily pick 5,
    * each maximizing λ·relevance − (1−λ)·max-similarity-to-already-
    * picked (λ = 0.7), so the answer set covers the query's
    * neighborhood instead of returning five near-copies. Score is
    * exact integer ppm arithmetic (7·rel_ppm − 3·maxsim_ppm — a
    * weighted sum of already-rounded doubles would tie at the 7th
    * decimal and the engines round ties apart), ties to the smaller
    * candidate id; the empty-set max-similarity is 0 by convention,
    * so step 1 is pure relevance.
    *
    * Scale shape: candidate generation is the production retrieval
    * path (bounded query block broadcast × one corpus scan,
    * WindowGroupLimit-pruned top-20); everything after operates on
    * (queries × 20)-row frames — pool and pairwise-sim frames are
    * pinned ONCE (self-join no-CSE would otherwise re-run
    * the corpus scan per greedy step) and every greedy iteration
    * touches only those bounded frames. MMR's sequential greed is
    * inherently k-step; keeping each step a broadcast-size join is
    * what makes it servable at any corpus scale. */
  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    val base = withNorm(s, dir)
    val q = base.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val topW = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    val poolRaw = base.select(col("vec_id").as("cid"),
        col("embedding").as("c_emb"), col("norm").as("c_norm"))
      .crossJoin(broadcast(q))
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        r6(dot("q_emb", "c_emb") / (col("q_norm") * col("c_norm"))).as("cos"))
      .withColumn("rn", row_number().over(topW))
      .where(col("rn") <= 20)
      .select(col("qid"), col("cid"),
        expr("cast(round(cos * cast(1000000 as double), 0) as bigint)")
          .as("rel_ppm"))
    val pool = Tables.pin(poolRaw)
    val a = pool.select(col("qid"), col("cid").as("cid_a"))
      .join(base.select(col("vec_id").as("cid_a"), col("embedding").as("ea"),
        col("norm").as("na")), "cid_a")
    val b = pool.select(col("qid"), col("cid").as("cid_b"))
      .join(base.select(col("vec_id").as("cid_b"), col("embedding").as("eb"),
        col("norm").as("nb")), "cid_b")
    val sims = Tables.pin(a.join(b, "qid")
      .where(col("cid_a") =!= col("cid_b"))
      .select(col("qid"), col("cid_a"), col("cid_b"),
        r6(dot("ea", "eb") / (col("na") * col("nb"))).as("sim"))
      .select(col("qid"), col("cid_a"), col("cid_b"),
        expr("cast(round(sim * cast(1000000 as double), 0) as bigint)")
          .as("sim_ppm")))
    val pickW = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("cid"))
    val first = pool
      .select(col("qid"), col("cid"), (lit(7L) * col("rel_ppm")).as("score"))
      .withColumn("rn", row_number().over(pickW)).where(col("rn") === 1)
      .select(col("qid"), col("cid"), col("score"), lit(1L).as("step"))
    var sel = first
    for (step <- 2L to 5L) {
      val maxsim = sims
        .join(sel.select(col("qid"), col("cid").as("cid_b")), Seq("qid", "cid_b"))
        .groupBy(col("qid"), col("cid_a").as("cid"))
        .agg(max(col("sim_ppm")).as("maxsim"))
      val pick = pool
        .join(sel.select(col("qid"), col("cid")), Seq("qid", "cid"), "left_anti")
        .join(maxsim, Seq("qid", "cid"), "left")
        .select(col("qid"), col("cid"),
          (lit(7L) * col("rel_ppm") - lit(3L) * coalesce(col("maxsim"), lit(0L)))
            .as("score"))
        .withColumn("rn", row_number().over(pickW)).where(col("rn") === 1)
        .select(col("qid"), col("cid"), col("score"), lit(step).as("step"))
      // pin the growing selection each step: without this, step k's
      // plan embeds every prior step's window+join chain and the
      // final plan re-executes them combinatorially (the frames are
      // ≤ 5 rows — the cost is plan depth and stage count, not data)
      sel = Tables.pin(sel.unionByName(pick))
    }
    sel.select(col("qid"), col("step"), col("cid"), col("score").as("mmr_score"))
      .orderBy("qid", "step")
  }

  /** Per-vector int8 quantization — the storage-compression pass for
    * large embedding stores (4 bytes → 1 byte per dim): scale each
    * vector's range onto 0..255, report the quantization parameters,
    * the exact code-sum (an integer content check), and the max
    * reconstruction error. Scan-only; all arithmetic in doubles with
    * positive operands so both engines round identically. The scale
    * divisor is clamped away from zero: a constant vector has
    * qmax == qmin, and an unguarded 0/0 is NaN — which Spark's
    * bigint cast silently maps to 0 while DuckDB's errors (a latent
    * cross-engine gate crash). Clamped, constant vectors quantize to
    * all-zero codes with zero reconstruction error in both engines. */
  def embeddingQuantize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("cast(array_min(embedding) as double)").as("qmin"),
        expr("cast(array_max(embedding) as double)").as("qmax"),
        col("embedding"))
      .withColumn("scale",
        greatest((col("qmax") - col("qmin")) / lit(255.0), lit(1e-12)))
      .withColumn("codes", expr(
        "transform(embedding, x -> cast(round((cast(x as double) - qmin) / scale) as bigint))"))
      .select(
        col("vec_id"), r6(col("qmin")).as("qmin_r"), r6(col("qmax")).as("qmax_r"),
        expr("aggregate(codes, cast(0 as bigint), (a, c) -> a + c)").as("code_sum"),
        r6(expr(
          """aggregate(
            |  zip_with(embedding, codes,
            |    (x, c) -> abs(cast(x as double) - (qmin + c * scale))),
            |  cast(0.0 as double), (a, e) -> greatest(a, e))""".stripMargin))
          .as("max_recon_err"))
      .orderBy("vec_id")

  /** Product quantization encode (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011 — the codebook side of
    * IVF-PQ, the standard storage layout for billion-vector ANN): the
    * 64-dim vector splits into 4 contiguous 16-dim subspaces, each
    * with its own 16-codeword codebook (deterministically the first 16
    * vectors' subvectors — the same seed rule q_ann_ivf uses, which a
    * real deployment replaces with per-subspace k-means via
    * q_kmeans_step's loop); every vector encodes to 4 codes = 2 bytes
    * total, a 128× compression of the float payload. Emits the codes
    * plus the total squared reconstruction error in exact micro-units
    * (each subspace's ‖x−c‖² = x·x + c·c − 2·x·c is one fixed IEEE
    * expression from codegen'd dots — bit-identical cross-engine —
    * floored to integer BEFORE the order-free 4-term sum).
    *
    * Scale shape: vector × 4 subspaces × broadcast 64-row codebook —
    * assignment work is a bounded 16× expansion per subspace row, the
    * argmin is a per-(vector, subspace) window over 16 rows, and
    * nothing shuffles except that window's key partitioning (keys =
    * 4 × corpus rows, uniform). The codebook is provably bounded, so
    * the broadcast obeys SURVEY §8. */
  /** PQ geometry DEFAULTS: m subspaces of 64/m dims with k codewords
    * each. m is the compression/accuracy lever (codes = m small ints
    * per vector), k the per-subspace codebook granularity — both are
    * RUNTIME confs (`spark.graft.pq.m` / `spark.graft.pq.k`) like the
    * SRP geometry, with the DuckDB oracle derived per geometry
    * ([[pqOracle]]/[[annPqOracle]]; the declared `oracles` entries are
    * generated for the defaults, so driver runs are unchanged).
    * PqGeometrySpec pins the conf plumbing and a second (8×8)
    * geometry; parity at a non-default geometry is probed by flipping
    * the defaults — the oracle follows automatically. */
  private[graft] val PqM = 4
  private[graft] val PqK = 16

  private def pqGeometry(s: SparkSession): (Int, Int) = {
    val m = s.conf.get("spark.graft.pq.m", PqM.toString).toInt
    val k = s.conf.get("spark.graft.pq.k", PqK.toString).toInt
    require(m > 0 && 64 % m == 0, s"pq.m must divide 64, got $m")
    require(k > 0, s"pq.k must be positive, got $k")
    (m, k)
  }

  def productQuantize(s: SparkSession, dir: String): DataFrame = {
    val (m, _) = pqGeometry(s)
    val codeCols = (0 until m).map(i =>
      max(when(col("sub") === i, col("cent_id"))).as(s"code_$i"))
    pqAssigned(s, dir)
      .groupBy(col("vec_id"))
      .agg(codeCols.head,
        codeCols.tail :+
          sum(floor(col("d2") * lit(1000000.0)).cast("long")).as("err_u"): _*)
      .orderBy("vec_id")
  }

  /** Shared CTE chain of the per-geometry PQ oracles: subspace
    * slices, self-dots, the k-seed codebook, and the full
    * vector × codeword distance frame. */
  private def pqCommonCtes(m: Int, k: Int): String = {
    val w = 64 / m
    val slices = (0 until m)
      .map(i => s"embedding[${i * w + 1}:${(i + 1) * w}]")
      .mkString("[", ", ", "]")
    val subIdx = (0 until m).mkString("[", ", ", "]")
    s"""WITH sub AS (
       |  SELECT vec_id,
       |         unnest($slices) AS subvec,
       |         unnest($subIdx) AS sub
       |  FROM embeddings),
       |v AS (
       |  SELECT vec_id, sub, subvec,
       |         list_reduce(list_transform(subvec,
       |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b) AS xx
       |  FROM sub),
       |cents AS (
       |  SELECT vec_id AS cent_id, sub, subvec AS cent_sub, xx AS cc
       |  FROM v WHERE vec_id < $k),
       |d AS (
       |  SELECT v.vec_id, v.sub, c.cent_id,
       |         v.xx + c.cc - CAST(2.0 AS DOUBLE) *
       |           list_reduce(list_transform(list_zip(v.subvec, c.cent_sub),
       |             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
       |             (a, b) -> a + b) AS d2
       |  FROM v JOIN cents c ON v.sub = c.sub)""".stripMargin
  }

  /** The q_product_quantize DuckDB oracle for an (m, k) geometry —
    * generated so the declared default-geometry oracle and any
    * probed geometry derive from one source. */
  private[graft] def pqOracle(m: Int, k: Int): String = {
    val codeCols = (0 until m).map(i =>
      s"       max(CASE WHEN sub = $i THEN cent_id END) AS code_$i,")
      .mkString("\n")
    s"""${pqCommonCtes(m, k)},
       |a AS (
       |  SELECT vec_id, sub, cent_id, d2,
       |         row_number() OVER (PARTITION BY vec_id, sub
       |           ORDER BY d2, cent_id) AS rn
       |  FROM d)
       |SELECT vec_id,
       |$codeCols
       |       CAST(sum(CAST(floor(d2 * CAST(1000000.0 AS DOUBLE)) AS BIGINT))
       |            AS BIGINT) AS err_u
       |FROM a WHERE rn = 1
       |GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  /** The q_pq_residual DuckDB oracle for an (m, k) geometry — same
    * argmin assignment, same micro-unit floors, same grid shares. */
  private[graft] def pqResidualOracle(m: Int, k: Int): String =
    s"""${pqCommonCtes(m, k)},
       |a AS (
       |  SELECT vec_id, sub, d2,
       |         row_number() OVER (PARTITION BY vec_id, sub
       |           ORDER BY d2, cent_id) AS rn
       |  FROM d),
       |e AS (
       |  SELECT sub,
       |         CAST(floor(d2 * CAST(1000000.0 AS DOUBLE)) AS BIGINT)
       |           AS err_u
       |  FROM a WHERE rn = 1),
       |g AS (
       |  SELECT sub, CAST(count(*) AS BIGINT) AS n_vecs,
       |         CAST(sum(err_u) AS BIGINT) AS sum_err_u,
       |         CAST(max(err_u) AS BIGINT) AS max_err_u
       |  FROM e GROUP BY sub),
       |tt AS (SELECT *, CAST(sum(sum_err_u) OVER () AS BIGINT) AS tot
       |       FROM g)
       |SELECT CAST(sub AS BIGINT) AS sub, n_vecs,
       |       CAST(sum_err_u // n_vecs AS BIGINT) AS mean_err_u,
       |       max_err_u,
       |       CASE WHEN tot > 0 THEN
       |         CAST(CAST(sum_err_u AS HUGEINT) * 1000000 // tot AS BIGINT)
       |       ELSE CAST(0 AS BIGINT) END AS err_share_ppm
       |FROM tt ORDER BY sub""".stripMargin

  /** The q_ann_pq_search DuckDB oracle for an (m, k) geometry. */
  private[graft] def annPqOracle(m: Int, k: Int): String =
    s"""${pqCommonCtes(m, k)},
       |codes AS (
       |  SELECT vec_id, sub, cent_id FROM d
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub
       |    ORDER BY d2, cent_id) = 1),
       |qt AS (
       |  SELECT v.vec_id AS qid, v.sub, c.cent_id,
       |         CAST(floor((v.xx + c.cc - CAST(2.0 AS DOUBLE) *
       |           list_reduce(list_transform(list_zip(v.subvec, c.cent_sub),
       |             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
       |             (a, b) -> a + b)) * CAST(1000000.0 AS DOUBLE)) AS BIGINT)
       |           AS d2q_u
       |  FROM v JOIN cents c ON v.sub = c.sub
       |  WHERE v.vec_id < 10),
       |ad AS (
       |  SELECT qt.qid, codes.vec_id, CAST(sum(d2q_u) AS BIGINT) AS adist_u
       |  FROM codes JOIN qt ON codes.sub = qt.sub AND codes.cent_id = qt.cent_id
       |  WHERE qt.qid != codes.vec_id
       |  GROUP BY qt.qid, codes.vec_id)
       |SELECT qid, CAST(row_number() OVER w AS BIGINT) AS rn, vec_id, adist_u
       |FROM ad
       |WINDOW w AS (PARTITION BY qid ORDER BY adist_u, vec_id)
       |QUALIFY row_number() OVER w <= 5
       |ORDER BY qid, rn""".stripMargin

  /** The q_pq_recall DuckDB oracle for an (m, k) geometry — embeds
    * [[annPqOracle]] so the eval can't drift from the search. */
  private[graft] def pqRecallOracle(m: Int, k: Int): String =
    s"""WITH adc AS (
       |${annPqOracle(m, k)}),
       |fv AS (
       |  SELECT vec_id, embedding,
       |         list_reduce(list_transform(embedding,
       |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b) AS xx
       |  FROM embeddings),
       |truth AS (
       |  SELECT q.vec_id AS qid, c.vec_id,
       |         CAST(floor((q.xx + c.xx - CAST(2.0 AS DOUBLE) *
       |           list_reduce(list_transform(list_zip(q.embedding, c.embedding),
       |             t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)),
       |             (a, b) -> a + b)) * CAST(1000000.0 AS DOUBLE)) AS BIGINT)
       |           AS d2u
       |  FROM fv q, fv c
       |  WHERE q.vec_id < 10 AND q.vec_id != c.vec_id),
       |t5 AS (
       |  SELECT qid, vec_id FROM truth
       |  QUALIFY row_number() OVER (PARTITION BY qid
       |    ORDER BY d2u, vec_id) <= 5),
       |h AS (
       |  SELECT t5.qid, count(adc.vec_id) AS n_hit
       |  FROM t5 LEFT JOIN adc ON t5.qid = adc.qid AND t5.vec_id = adc.vec_id
       |  GROUP BY t5.qid)
       |SELECT qid, n_hit, CAST(1000000 * n_hit // 5 AS BIGINT) AS recall_ppm
       |FROM h ORDER BY qid""".stripMargin

  /** The q_mrr_eval DuckDB oracle for an (m, k) geometry — embeds
    * [[annPqOracle]] so the eval can't drift from the search. */
  private[graft] def mrrOracle(m: Int, k: Int): String =
    s"""WITH adc AS (
       |${annPqOracle(m, k)}),
       |fv AS (
       |  SELECT vec_id, embedding,
       |         list_reduce(list_transform(embedding,
       |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b) AS xx
       |  FROM embeddings),
       |truth AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS truth_id,
       |         CAST(floor((q.xx + c.xx - CAST(2.0 AS DOUBLE) *
       |           list_reduce(list_transform(list_zip(q.embedding, c.embedding),
       |             t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)),
       |             (a, b) -> a + b)) * CAST(1000000.0 AS DOUBLE)) AS BIGINT)
       |           AS d2u
       |  FROM fv q, fv c
       |  WHERE q.vec_id < 10 AND q.vec_id != c.vec_id),
       |t1 AS (
       |  SELECT qid, truth_id FROM truth
       |  QUALIFY row_number() OVER (PARTITION BY qid
       |    ORDER BY d2u, truth_id) = 1)
       |SELECT t1.qid, t1.truth_id,
       |       coalesce(adc.rn, -1) AS adc_rank,
       |       CASE WHEN adc.rn IS NOT NULL
       |            THEN CAST(1000000 // adc.rn AS BIGINT)
       |            ELSE CAST(0 AS BIGINT) END AS rr_ppm
       |FROM t1 LEFT JOIN adc
       |  ON t1.qid = adc.qid AND t1.truth_id = adc.vec_id
       |ORDER BY t1.qid""".stripMargin

  /** (vec_id, sub, subvec, xx): the vector split into the m PQ
    * subspaces with each subvector's self-dot precomputed. */
  private def pqSubbed(df: DataFrame, m: Int): DataFrame = {
    val w = 64 / m
    df.select(col("vec_id"), posexplode(array(
      (0 until m).map(i => slice(col("embedding"), i * w + 1, w)): _*))
      .as(Seq("sub", "subvec")))
      .withColumn("xx",
        graft.functions.GraftFunctions.array_dot(col("subvec"), col("subvec")))
  }

  /** The m × k PQ codebook (seed rule: first k vectors' subvectors)
    * with per-codeword self-dots. Provably bounded → broadcastable. */
  private def pqCodebook(s: SparkSession, dir: String,
                         m: Int, k: Int): DataFrame =
    pqSubbed(t(s, dir, "embeddings").where(col("vec_id") < k), m)
      .select(col("vec_id").as("cent_id"), col("sub"),
        col("subvec").as("cent_sub"), col("xx").as("cc"))

  /** Per-(vector, subspace) PQ assignment: (vec_id, sub, cent_id, d2)
    * for the argmin codeword — the shared core of the encode
    * ([[productQuantize]]) and the ADC search ([[annPqSearch]]). */
  private[graft] def pqAssigned(s: SparkSession, dir: String): DataFrame = {
    val (m, k) = pqGeometry(s)
    val w = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("d2"), col("cent_id"))
    pqSubbed(t(s, dir, "embeddings"), m)
      .join(broadcast(pqCodebook(s, dir, m, k)), "sub")
      .withColumn("d2", col("xx") + col("cc") - lit(2.0) *
        graft.functions.GraftFunctions.array_dot(col("subvec"), col("cent_sub")))
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("cent_id"), col("d2"))
  }

  /** PQ asymmetric-distance search (ADC — Jégou et al. 2011 §IV): the
    * serving half of [[productQuantize]]. Each query precomputes a
    * 4 × 16 distance TABLE to every codeword (‖q_sub − c‖², the same
    * fixed IEEE expression the encoder uses, floored to micro-units);
    * a candidate's approximate distance is then 4 integer TABLE
    * LOOKUPS summed — no float arithmetic ever touches the corpus
    * row. Emits top-5 per query by ADC distance.
    *
    * Scale shape: the corpus-side input is the 4-codes frame (2
    * bytes/vector of true payload — the 128× scan-size win that makes
    * PQ the billion-vector standard); the lookup join is against a
    * broadcast (queries × 4 × 16)-row table; distance assembly is a
    * combine-enabled (qid, vec) sum of 4 integers. The per-query
    * ranking window partitions |queries| ways — at real scale ADC
    * composes with IVF pruning (q_ann_ivf's cluster scope) so each
    * query ranks one cluster's codes, not the corpus. */
  def annPqSearch(s: SparkSession, dir: String): DataFrame = {
    val (m, k) = pqGeometry(s)
    val codes = pqAssigned(s, dir).select(col("vec_id"), col("sub"), col("cent_id"))
    val table = pqSubbed(t(s, dir, "embeddings").where(col("vec_id") < 10), m)
      .select(col("vec_id").as("qid"), col("sub"),
        col("subvec").as("q_sub"), col("xx").as("qxx"))
      .join(broadcast(pqCodebook(s, dir, m, k)), "sub")
      .select(col("qid"), col("sub"), col("cent_id"),
        floor((col("qxx") + col("cc") - lit(2.0) *
          graft.functions.GraftFunctions.array_dot(col("q_sub"), col("cent_sub")))
          * lit(1000000.0)).cast("long").as("d2q_u"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adist_u"), col("vec_id"))
    codes.join(broadcast(table), Seq("sub", "cent_id"))
      .where(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("d2q_u")).as("adist_u"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("vec_id"), col("adist_u"))
      .orderBy("qid", "rn")
  }

  /** PQ recall eval: per query, recall@5 of the ADC search against
    * exact full-dimension squared-L2 truth — the number that tells a
    * deployment whether the chosen (m, k) geometry is accurate enough
    * before swapping the float scan for the 2-byte code scan
    * (q_ann_recall's role for the IVF path). Truth distances use the
    * same fixed IEEE d² expression floored to micro-units, so ranking
    * is engine-exact; recall ships as integer ppm of k=5.
    *
    * Scale shape: truth = broadcast 10-query block × one exact scan
    * (the bounded-eval-slice pattern of q_srp_recall); the ADC side is
    * the production operator reused verbatim; the recall join touches
    * only (queries × 5)-row frames. */
  def pqRecall(s: SparkSession, dir: String): DataFrame = {
    val fv = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"),
      graft.functions.GraftFunctions.array_dot(col("embedding"), col("embedding"))
        .as("xx"))
    val q = fv.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("xx").as("qxx"))
    val truthW = Window.partitionBy(col("qid")).orderBy(col("d2u"), col("vec_id"))
    val truth = fv.crossJoin(broadcast(q))
      .where(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        floor((col("qxx") + col("xx") - lit(2.0) * dot("qe", "embedding"))
          * lit(1000000.0)).cast("long").as("d2u"))
      .withColumn("rn", row_number().over(truthW)).where(col("rn") <= 5)
      .select(col("qid"), col("vec_id"))
    val adc = annPqSearch(s, dir)
      .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
    truth.join(adc, Seq("qid", "vec_id"), "left")
      .groupBy(col("qid"))
      .agg(count(col("hit")).as("n_hit"))
      .select(col("qid"), col("n_hit"),
        expr("1000000 * n_hit div 5").as("recall_ppm"))
      .orderBy("qid")
  }

  /** Semantic cluster labeling: the doc side of each IVF cluster gets
    * its top-5 terms by raw count — the "what is this embedding
    * cluster about" report that names clusters after k-means/IVF
    * training (documents and embeddings share the id space:
    * embedding vec_id i embeds document doc_id i).
    *
    * Scale shape: the IVF assignment is the broadcast-16-centroids ×
    * scan shape every ANN query uses; the doc join keys on the shared
    * id (one shuffle); term counts ride a (clusters × vocabulary)-
    * bounded combine shuffle; the rank window partitions per cluster
    * over vocabulary-sized frames. */
  def clusterTopterms(s: SparkSession, dir: String): DataFrame = {
    val assign = ivfAssign(s, dir)
      .select(col("vec_id").as("doc_id"), col("cluster_id"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("cnt").desc, col("token"))
    t(s, dir, "documents").select(col("doc_id"), col("text"))
      .join(assign, "doc_id")
      .select(col("cluster_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("cluster_id"), col("token")).agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 5)
      .select(col("cluster_id"), col("rank"), col("token"), col("cnt"))
      .orderBy("cluster_id", "rank")
  }

  // ----------------------------------------------------- multimodal binary

  /** Opaque-binary multimodal plumbing: media payloads travel as
    * `binary` columns with a typed metadata struct beside them; all
    * derived features come from the bytes, never the original string.
    * The "decode" here (head_hex + a hash-derived feature bucket) is a
    * DETERMINISTIC STUB for a real image/audio decoder — in production
    * that step is a mapPartitions/vectorized-UDF stage with this exact
    * schema and batch shape (payload binary + meta struct in, feature
    * columns out); the codec library is the only missing piece. */
  def multimodalBinary(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, t(s, dir, "documents"))
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        struct(lit("text/plain").as("mime"), col("lang").as("lang")).as("meta"))
      .select(
        col("doc_id"),
        col("meta.mime").as("mime"),
        col("meta.lang").as("lang"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        upper(substring(hex(col("payload")), 1, 16)).as("head_hex"),
        // STUB decoder output: deterministic pseudo-feature from bytes.
        expr(s"${PortableHashes.hashSql("cast(payload as string)")} % 1000").as("stub_feature"))
      .orderBy("doc_id")

  /** Per-class mean embedding (label prototypes) — the pooling
    * aggregate behind class centroids, nearest-class-mean classifiers,
    * and mean-pooled document vectors. Same arithmetic discipline as
    * [[kmeansStepFrom]]: per-(label, dim) sums ride ONE combine
    * shuffle of |labels| × 64 groups regardless of corpus size,
    * routed through DECIMAL(18,6) with the mean emitted as exact
    * integer micro-units via integer division — partial-agg order and
    * the mean division are engine-exact.
    *
    * Scale shape: posexplode is a narrow 64× row expansion feeding a
    * map-side-combined agg keyed on (label, dim) — bounded group
    * count, no data-scaled shuffle, no broadcast. */
  def embeddingPool(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n_members"),
        (sum(col("v").cast("double").cast("decimal(18,6)")) * lit(1000000))
          .cast("long").as("sum_u"))
      .select(col("label").cast("long").as("label"),
        col("dim").cast("long").as("dim"), col("n_members"),
        expr("sum_u div n_members").as("mean_u"))
      .orderBy("label", "dim")

  /** IVF-PQ composed serving path — the billion-vector standard
    * (Jégou et al. 2011 §V: a coarse quantizer prunes the corpus, PQ
    * codes rank inside the probed cell): each query (vec_id < 10) is
    * routed to its IVF cluster ([[ivfAssign]], nprobe=1) and ADC-ranks
    * ONLY that cluster's members — the asymmetric distance is m
    * integer table lookups exactly as [[annPqSearch]], but the
    * candidate set shrinks from |corpus| to |cluster|. Emits top-5 per
    * query with the probed cluster id. Against q_ann_pq_search this
    * demonstrates the pruning lever; against q_ann_ivf it swaps float
    * dots for 2-byte codes — together they are the full serving stack.
    *
    * Scale shape: corpus-side inputs are the code frame (2 bytes/vec)
    * + the cluster assignment (1 int/vec); the query-side distance
    * table is broadcast; distance assembly is a combine-enabled
    * (qid, vec) integer sum; ranking windows partition per query over
    * cluster-sized frames. Nothing float touches a corpus row and
    * nothing scales past the probed cells. */
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val (m, k) = pqGeometry(s)
    val assign = ivfAssign(s, dir)
    val codes = pqAssigned(s, dir)
      .select(col("vec_id"), col("sub"), col("cent_id"))
      .join(assign, "vec_id")
    val table = pqSubbed(t(s, dir, "embeddings").where(col("vec_id") < 10), m)
      .select(col("vec_id").as("qid"), col("sub"),
        col("subvec").as("q_sub"), col("xx").as("qxx"))
      .join(broadcast(pqCodebook(s, dir, m, k)), "sub")
      .select(col("qid"), col("sub"), col("cent_id"),
        floor((col("qxx") + col("cc") - lit(2.0) *
          graft.functions.GraftFunctions.array_dot(col("q_sub"), col("cent_sub")))
          * lit(1000000.0)).cast("long").as("d2q_u"))
      .join(broadcast(assign.withColumnRenamed("vec_id", "qid")), "qid")
    val w = Window.partitionBy(col("qid")).orderBy(col("adist_u"), col("vec_id"))
    codes.join(broadcast(table), Seq("sub", "cent_id", "cluster_id"))
      .where(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("cluster_id"), col("vec_id"))
      .agg(sum(col("d2q_u")).as("adist_u"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 5)
      .select(col("qid"), col("cluster_id"), col("rn"), col("vec_id"),
        col("adist_u"))
      .orderBy("qid", "rn")
  }

  /** The q_ann_ivfpq DuckDB oracle for an (m, k) PQ geometry — embeds
    * the PQ CTE chain and the IVF cosine assignment so neither can
    * drift from their standalone oracles. */
  private[graft] def annIvfPqOracle(m: Int, k: Int): String =
    s"""${pqCommonCtes(m, k)},
       |codes AS (
       |  SELECT vec_id, sub, cent_id FROM d
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub
       |    ORDER BY d2, cent_id) = 1),
       |fbase AS (
       |  SELECT vec_id, embedding,
       |         sqrt(list_reduce(list_transform(embedding,
       |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS norm
       |  FROM embeddings),
       |ivfc AS (
       |  SELECT vec_id AS cent_id, embedding AS cent_emb, norm AS cent_norm
       |  FROM fbase WHERE vec_id < 16),
       |cassign AS (
       |  SELECT vec_id, cent_id AS cluster_id FROM (
       |    SELECT b.vec_id, c.cent_id,
       |           round(list_reduce(list_transform(list_zip(b.embedding, c.cent_emb),
       |                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
       |                 / (b.norm * c.cent_norm), 6) AS ccos
       |    FROM fbase b, ivfc c)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |    ORDER BY ccos DESC, cent_id) = 1),
       |qt AS (
       |  SELECT v.vec_id AS qid, v.sub, c.cent_id,
       |         CAST(floor((v.xx + c.cc - CAST(2.0 AS DOUBLE) *
       |           list_reduce(list_transform(list_zip(v.subvec, c.cent_sub),
       |             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)),
       |             (a, b) -> a + b)) * CAST(1000000.0 AS DOUBLE)) AS BIGINT)
       |           AS d2q_u
       |  FROM v JOIN cents c ON v.sub = c.sub
       |  WHERE v.vec_id < 10),
       |ad AS (
       |  SELECT qt.qid, qa.cluster_id, codes.vec_id,
       |         CAST(sum(d2q_u) AS BIGINT) AS adist_u
       |  FROM codes
       |  JOIN cassign ca ON ca.vec_id = codes.vec_id
       |  JOIN qt ON codes.sub = qt.sub AND codes.cent_id = qt.cent_id
       |  JOIN cassign qa ON qa.vec_id = qt.qid
       |       AND qa.cluster_id = ca.cluster_id
       |  WHERE qt.qid != codes.vec_id
       |  GROUP BY qt.qid, qa.cluster_id, codes.vec_id)
       |SELECT qid, cluster_id, CAST(row_number() OVER w AS BIGINT) AS rn,
       |       vec_id, adist_u
       |FROM ad
       |WINDOW w AS (PARTITION BY qid ORDER BY adist_u, vec_id)
       |QUALIFY row_number() OVER w <= 5
       |ORDER BY qid, rn""".stripMargin

  /** Reciprocal-rank fusion (RRF, Cormack et al. 2009) of two
    * retrieval paths — the hybrid-search primitive every production
    * vector store ships: the exact dense ranking (q_cosine_topk) and
    * the PQ ADC ranking (q_ann_pq_search) are fused per query by
    * score = Σ 1/(60 + rank), which rewards agreement between
    * rankers without comparing their incommensurable raw scores
    * (cosine vs integer ADC distance — the reason RRF beats score
    * averaging). Scores are exact integers (1000000 div (60 + rank),
    * truncating division both engines), absent-from-one-ranker docs
    * contribute 0 from that side, ties break on candidate id.
    *
    * Scale shape: both inputs are (queries × k)-row frames — the
    * production operators reused verbatim — so the fusion join and
    * rank window touch nothing corpus-sized; the oracle EMBEDS both
    * declared oracles so the fusion can't drift from its inputs. */
  def rankFusion(s: SparkSession, dir: String): DataFrame = {
    val dense = LlmOps.cosineTopk(s, dir).where(col("qid") < 10)
      .select(col("qid"), col("cid"), col("rn").as("rn_dense"))
    val adc = annPqSearch(s, dir)
      .select(col("qid"), col("vec_id").as("cid"), col("rn").as("rn_pq"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_u").desc, col("cid"))
    dense.join(adc, Seq("qid", "cid"), "full_outer")
      .select(col("qid"), col("cid"),
        coalesce(col("rn_dense"), lit(0L)).as("rn_dense"),
        coalesce(col("rn_pq"), lit(0L)).as("rn_pq"),
        (coalesce(expr("1000000 div (60 + rn_dense)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + rn_pq)"), lit(0L))).as("score_u"))
      .withColumn("fused_rank", row_number().over(w).cast("long"))
      .select(col("qid"), col("fused_rank"), col("cid"), col("score_u"),
        col("rn_dense"), col("rn_pq"))
      .orderBy("qid", "fused_rank")
  }

  /** The q_rank_fusion oracle for a PQ (m, k) geometry — embeds the
    * declared q_cosine_topk oracle and [[annPqOracle]] verbatim. */
  private[graft] def rankFusionOracle(m: Int, k: Int): String =
    s"""WITH dense AS (
       |${LlmOps.oracles("q_cosine_topk")}),
       |adc AS (
       |${annPqOracle(m, k)}),
       |f AS (
       |  SELECT coalesce(d.qid, a.qid) AS qid,
       |         coalesce(d.cid, a.vec_id) AS cid,
       |         coalesce(d.rn, 0) AS rn_dense,
       |         coalesce(a.rn, 0) AS rn_pq,
       |         coalesce(1000000 // (60 + d.rn), 0) +
       |           coalesce(1000000 // (60 + a.rn), 0) AS score_u
       |  FROM (SELECT * FROM dense WHERE qid < 10) d
       |  FULL OUTER JOIN adc a ON d.qid = a.qid AND d.cid = a.vec_id)
       |SELECT qid, CAST(row_number() OVER w AS BIGINT) AS fused_rank, cid,
       |       CAST(score_u AS BIGINT) AS score_u,
       |       CAST(rn_dense AS BIGINT) AS rn_dense,
       |       CAST(rn_pq AS BIGINT) AS rn_pq
       |FROM f
       |WINDOW w AS (PARTITION BY qid ORDER BY score_u DESC, cid)
       |ORDER BY qid, fused_rank""".stripMargin

  /** Matryoshka truncated-dimension recall eval (Kusupati et al.
    * 2022): per query, recall@3 of cosine top-k computed on the FIRST
    * 16 and 32 dims of the 64-dim embedding against the full-dim
    * truth — the eval a pipeline runs before shipping truncated
    * vectors to a cheaper index tier (a 4x/2x scan-width cut IF the
    * recall holds; this query puts that number in the data). The
    * prefix slice + renorm is scan-side; each path is the brute-force
    * broadcast pattern of q_ann_recall (bounded query block x one
    * corpus scan, never corpus x corpus); the recall join touches
    * only (queries x 3)-row frames. k = 3 < 128 so r6 on the recall
    * ratios is cross-engine exact; cos doubles are the proven
    * array_dot ≡ list_reduce fold on identically sliced inputs. */
  def matryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    def normed(dims: Int): DataFrame = {
      val emb = expr(s"slice(embedding, 1, $dims)")
      t(s, dir, "embeddings").select(col("vec_id"), emb.as("emb"),
        sqrt(graft.functions.GraftFunctions.array_dot(emb, emb)).as("nrm"))
    }
    def top3(df: DataFrame): DataFrame = {
      val q = df.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("emb").as("q_emb"),
          col("nrm").as("q_nrm"))
      val c = df.select(col("vec_id").as("cid"), col("emb").as("c_emb"),
        col("nrm").as("c_nrm"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
      c.crossJoin(broadcast(q))
        .where(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          r6(graft.functions.GraftFunctions.array_dot(col("q_emb"), col("c_emb"))
            / (col("q_nrm") * col("c_nrm"))).as("cos"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("qid"), col("cid"))
    }
    top3(normed(64))
      .join(top3(normed(16)).withColumn("hit_16", lit(1L)),
        Seq("qid", "cid"), "left")
      .join(top3(normed(32)).withColumn("hit_32", lit(1L)),
        Seq("qid", "cid"), "left")
      .groupBy(col("qid"))
      .agg(count(col("hit_16")).as("n_hit_16"),
        count(col("hit_32")).as("n_hit_32"))
      .select(col("qid"), col("n_hit_16"),
        r6(col("n_hit_16").cast("double") / lit(3.0)).as("recall_16"),
        col("n_hit_32"),
        r6(col("n_hit_32").cast("double") / lit(3.0)).as("recall_32"))
      .orderBy("qid")
  }

  /** Per-dimension embedding-space profile — the drift monitor an
    * embedding pipeline runs on every model/index release: mean,
    * variance, and range per dimension (a collapsed dimension, a
    * mean shift, or a blown-out scale flags a bad encoder rollout
    * before the index rebuild spends the cluster). Values floor to
    * micro-units scan-side; moments assemble from DECIMAL(38,0)
    * power sums (order-independent), variance lands as one exact
    * integer division of (n·Σv² − (Σv)²) by n² — engine-identical,
    * no Welford-order dependence (the q_agg_stats discipline).
    *
    * Scale shape: posexplode is scan-side (rows = vectors × dims,
    * no shuffle); ONE combine agg on the |dims|-key — state is
    * O(dims) regardless of corpus; output one row per dimension. */
  def embeddingStats(s: SparkSession, dir: String): DataFrame = {
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    t(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"),
        floor(col("v").cast("double") * lit(1000000.0)).cast("long").as("vu"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(d38(col("vu"))).as("s1"),
        sum(d38(col("vu")) * d38(col("vu"))).as("s2"),
        min(col("vu")).as("min_u"),
        max(col("vu")).as("max_u"))
      .select(col("dim"), col("n_vecs"),
        expr("cast(s1 div n_vecs as bigint)").as("mean_u"),
        expr("""cast((cast(n_vecs as decimal(38,0)) * s2 - s1 * s1)
          div (cast(n_vecs as decimal(38,0)) * n_vecs) as bigint)""")
          .as("var_u2"),
        col("min_u"), col("max_u"))
      .orderBy("dim")
  }

  /** Embedding-space outlier sweep — the encoder-sanity filter a
    * curation pipeline runs before indexing a new drop: squared
    * distance of every vector to the GLOBAL centroid, top-20 by
    * distance. A cluster of far-out vectors is a bad encoder batch, a
    * corrupted modality, or genuinely novel content — either way the
    * rows a human looks at first. Values floor to micro-units
    * scan-side; the centroid is an exact integer division per
    * dimension; distances are DECIMAL(38,0) sums of integer squares —
    * engine-identical, no floating accumulation anywhere.
    *
    * Scale shape: posexplode is scan-side; the centroid is ONE
    * combine agg to |dims| rows broadcast back; per-vector distance
    * is a second combine agg on vec_id (uniform key); top-20 plans as
    * TakeOrderedAndProject (per-partition heads, no global sort). */
  def embeddingOutliers(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.spread(s, t(s, dir, "embeddings"))
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("label"), col("dim"),
        floor(col("v").cast("double") * lit(1000000.0)).cast("long").as("vu"))
    val cent = q.groupBy(col("dim"))
      .agg(expr("cast(sum(cast(vu as decimal(38,0))) div count(1) as bigint)")
        .as("mean_u"))
    q.join(broadcast(cent), "dim")
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(expr("cast(vu - mean_u as decimal(38,0)) * (vu - mean_u)"))
        .cast("long").as("dist2_u2"))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("dist2_u2"))
      .orderBy(col("dist2_u2").desc, col("vec_id"))
      .limit(20)
  }

  /** Embeddings as (id-cols, dim, vu) micro-unit rows: floors each
    * float to floor(double(x)·1e6) scan-side INSIDE a transform (so
    * the quantization is a projection, not an explode side-effect)
    * then posexplodes. Shared by the power-iteration and drift ops. */
  private def microDims(s: SparkSession, dir: String,
                        idCols: Column*): DataFrame =
    Tables.spread(s, t(s, dir, "embeddings"))
      .select(idCols :+ posexplode(expr(
        """transform(embedding,
          |  x -> cast(floor(cast(x as double) * cast(1000000 as double))
          |       as bigint))""".stripMargin)).as(Seq("dim", "vu")): _*)

  /** One PCA power-iteration step, distributed and exactly integer:
    * y = Xᵀ(X·v0) for the fixed seed direction v0 = 1⃗ — per vector
    * the dot X·v0 is just the micro-unit component sum (scan-side
    * HOF, no shuffle), and y_d = Σ_i s_i·x_{i,d} is one combine agg
    * per dimension. The output direction profile (per-dim magnitude
    * share of Σ|y|) is the first thing an embedding-health check
    * reads: one dimension hoarding the variance means a collapsed or
    * unnormalized encoder. Iterating this step (re-seeding v0 from
    * y) is textbook power iteration; one step is the operator, the
    * loop is an orchestration concern (the q_kmeans_step precedent).
    *
    * Scale shape: quantize + per-vector sum are scan-side; ONE
    * combine agg to |dims| rows; the share denominator is a window
    * over that bounded grid. Nothing corpus-sized moves. */
  def pcaPower(s: SparkSession, dir: String): DataFrame = {
    val svec = expr(
      """aggregate(transform(embedding,
        |  x -> cast(floor(cast(x as double) * cast(1000000 as double))
        |       as bigint)),
        |  cast(0 as bigint), (a, x) -> a + x)""".stripMargin)
    Tables.spread(s, t(s, dir, "embeddings"))
      .select(svec.as("svec"), posexplode(expr(
        """transform(embedding,
          |  x -> cast(floor(cast(x as double) * cast(1000000 as double))
          |       as bigint))""".stripMargin)).as(Seq("dim", "vu")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(expr("cast(svec as decimal(38,0)) * vu")).as("y"))
      .withColumn("tot", sum(abs(col("y"))).over(Window.partitionBy()))
      .select(col("dim"), col("n_vecs"),
        col("y").cast("long").as("y_u2"),
        expr("""cast(abs(cast(y as decimal(38,0))) * 1000000
          div tot as bigint)""").as("share_ppm"))
      .orderBy("dim")
  }

  /** Per-label centroid drift vs the global centroid — the "did one
    * class move" monitor for embedding refreshes and the imbalance
    * check before IVF training (a label far from the global mean
    * pulls coarse centroids toward itself). Centroids are exact
    * integer per-dim means (truncating division of decimal sums);
    * the per-label summary is the squared distance to the global
    * centroid plus the raw dot — both exact integers, no sqrt/cosine
    * doubles anywhere.
    *
    * Scale shape: one (label, dim) combine agg and one (dim) combine
    * agg over the same scan; the global |dims|-row centroid
    * broadcasts back; the final rollup is over the bounded
    * |labels|·|dims| frame. */
  def centroidDrift(s: SparkSession, dir: String): DataFrame = {
    val x = microDims(s, dir, col("label").cast("long").as("label"))
    val mean = expr(
      "cast(sum(cast(vu as decimal(38,0))) div count(1) as bigint)")
    val byLabel = x.groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), mean.as("m"))
    val global = x.groupBy(col("dim")).agg(mean.as("g"))
    byLabel.join(broadcast(global), "dim")
      .groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"),
        sum(expr("cast(m - g as decimal(38,0)) * (m - g)")).cast("long")
          .as("dist2_u2"),
        sum(expr("cast(m as decimal(38,0)) * g")).cast("long")
          .as("dot_u2"))
      .orderBy("label")
  }

  /** Norm-band histogram per label — the encoder-health check that
    * catches norm collapse (a label's vectors shrinking toward zero)
    * and norm explosion before either poisons cosine rankings:
    * squared norm in exact integer micro-units² per vector
    * (scan-side fold over the short dim array), banded by bitlength
    * (the exact integer log2 both engines share), counted per
    * (label, band) with the band's min/max. A healthy encoder puts
    * every label in 1–2 adjacent bands; a spread or a shifted band
    * is the drift signal q_centroid_drift can't see (it tracks
    * direction, this tracks magnitude).
    *
    * Scale shape: quantize + square-sum + band are all scan-side
    * projections; ONE combine agg to the bounded |labels| × ≤64-band
    * grid. Zero window functions, zero joins. */
  def normBands(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, t(s, dir, "embeddings"))
      .select(col("label").cast("long").as("label"),
        expr("""aggregate(transform(embedding,
          |  x -> cast(floor(cast(x as double) * cast(1000000 as double))
          |       as bigint)),
          |  cast(0 as decimal(38,0)), (a, x) -> a + cast(x as decimal(38,0)) * x)"""
          .stripMargin).cast("long").as("norm2_u2"))
      .select(col("label"), col("norm2_u2"),
        when(col("norm2_u2") > 0L,
          length(expr("bin(norm2_u2)")).cast("long")).otherwise(0L)
          .as("band"))
      .groupBy(col("label"), col("band"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("norm2_u2")).as("min_norm2_u2"),
        max(col("norm2_u2")).as("max_norm2_u2"))
      .orderBy("label", "band")

  /** ANN index sizing plan — q_write_plan's counterpart for the
    * vector side: from corpus statistics alone (count, dims, raw
    * bytes), the numbers an IVF-PQ deployment is sized with BEFORE
    * building anything: nlist as the power of two nearest √n from
    * below (2^(bitlength(n) div 2) — integer-exact), expected rows
    * per cell, the default probe count (nlist div 16, floor 1), PQ
    * code bytes at the m = dims/4 geometry this engine's PQ ops use,
    * and the raw→code scan-shrink ratio. One planning row; the index
    * build (q_kmeans_step, q_product_quantize) consumes these.
    *
    * Scale shape: ONE 1-row reduce over the scan; everything else is
    * arithmetic on that row. */
  def annPlan(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), size(col("embedding")).cast("long").as("dims"))
      .agg(count(lit(1)).as("n_vecs"), max(col("dims")).as("dims"))
      .select(col("n_vecs"), col("dims"),
        expr("cast(pow(2, length(bin(n_vecs)) div 2) as bigint)")
          .as("nlist"),
        col("dims").multiply(4L).as("raw_bytes_per_vec"),
        expr("dims div 4").as("pq_code_bytes"))
      .select(col("n_vecs"), col("dims"), col("nlist"),
        expr("n_vecs div nlist").as("rows_per_cell"),
        greatest(expr("nlist div 16"), lit(1L)).as("nprobe_default"),
        col("raw_bytes_per_vec"), col("pq_code_bytes"),
        expr("raw_bytes_per_vec div pq_code_bytes").as("scan_shrink_x"))

  /** IVF cell-balance audit — the post-training health check on the
    * coarse quantizer: per-cell population, corpus share, and a
    * balance factor (cell size × n_cells / total, 1e6 = perfectly
    * uniform). A hot cell (balance ≫ 1e6) is a serving tail-latency
    * bomb — every query probing it scans that whole cell — and the
    * signal to retrain or split; q_ann_plan sizes the index, this
    * audits what training actually produced, and q_lsh_bucket_skew is
    * its LSH-side twin.
    *
    * Scale shape: the assignment is the shared broadcast-16-centroid
    * scan; sizes are ONE combine to the ≤ nlist-row grid; shares ride
    * an unpartitioned window over that provably bounded grid. */
  def ivfBalance(s: SparkSession, dir: String): DataFrame = {
    val grid = Window.partitionBy(lit(1))
    ivfAssign(s, dir)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("long").as("n_vecs"))
      .withColumn("total", sum(col("n_vecs")).over(grid).cast("long"))
      .withColumn("n_cells", count(lit(1)).over(grid).cast("long"))
      .select(col("cluster_id"), col("n_vecs"),
        expr("""cast(cast(n_vecs as decimal(38,0)) * 1000000
          div total as bigint)""").as("share_ppm"),
        expr("""cast(cast(n_vecs as decimal(38,0)) * n_cells * 1000000
          div total as bigint)""").as("balance_ppm"))
      .orderBy("cluster_id")
  }

  /** Per-subspace PQ residual-energy audit — where the quantization
    * error actually lives: for each of the m subspaces, the count,
    * truncating-mean and max of the argmin-codeword squared residual
    * (micro-units, the exact integers q_product_quantize already
    * ships per vector) plus each subspace's share of total error.
    * A subspace carrying an outsized share is the one that needs more
    * codewords (or an OPQ rotation) — the diagnostic read before
    * re-spending training budget; q_pq_recall says "accuracy is off",
    * this says WHERE.
    *
    * Scale shape: reuses the encoder's broadcast-codebook assignment
    * scan; ONE combine to the m-row grid; the share window spans m
    * rows by construction. */
  def pqResidual(s: SparkSession, dir: String): DataFrame = {
    val grid = Window.partitionBy(lit(1))
    pqAssigned(s, dir)
      .select(col("sub").cast("long").as("sub"),
        floor(col("d2") * lit(1000000.0)).cast("long").as("err_u"))
      .groupBy(col("sub"))
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        sum(col("err_u").cast("decimal(38,0)")).cast("long").as("sum_err_u"),
        max(col("err_u")).as("max_err_u"))
      .withColumn("tot_err", sum(col("sum_err_u")).over(grid).cast("long"))
      .select(col("sub"), col("n_vecs"),
        expr("cast(sum_err_u div n_vecs as bigint)").as("mean_err_u"),
        col("max_err_u"),
        when(col("tot_err") > 0L,
          expr("""cast(cast(sum_err_u as decimal(38,0)) * 1000000
            div tot_err as bigint)""")).otherwise(0L).as("err_share_ppm"))
      .orderBy("sub")
  }

  /** Top-1 neighbor reciprocity per label inside the fixed 100-vector
    * eval window — the complement of q_hubness: a healthy embedding
    * space has high mutual-nearest-neighbor rates, while hub-dominated
    * spaces (high-dim degradation) send many vectors' top-1 pointing
    * at a few hubs that don't point back. Low reciprocity predicts
    * poor k-NN classification and noisy SemDeDup keeps — this is the
    * cheap canary to run before trusting either.
    *
    * Scale shape: the eval window is a FIXED 100-vector slice
    * (q_srp_recall's bounded-truth pattern — constant cost at any
    * corpus size); the window cross is broadcast on one side; the
    * reciprocity check is a self-join of the 100-row top-1 frame. */
  def knnReciprocity(s: SparkSession, dir: String): DataFrame = {
    val win = withNorm(s, dir).where(col("vec_id") < 100)
    val q = win.select(col("vec_id").as("qid"), col("label").as("qlabel"),
      col("embedding").as("qe"), col("norm").as("qn"))
    val c = win.select(col("vec_id").as("cid"),
      col("embedding").as("ce"), col("norm").as("cn"))
    val topW = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("cid"))
    val top1 = q.crossJoin(broadcast(c))
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("qlabel"), col("cid"),
        r6(dot("qe", "ce") / (col("qn") * col("cn"))).as("cos"))
      .withColumn("rn", row_number().over(topW)).where(col("rn") === 1)
      .select(col("qid"), col("qlabel"), col("cid").as("nbr"))
    val back = top1.select(col("qid").as("b_qid"), col("nbr").as("b_nbr"))
    top1.join(back,
        col("nbr") === col("b_qid") && col("b_nbr") === col("qid"), "left")
      .select(col("qlabel").cast("long").as("label"),
        when(col("b_qid").isNotNull, 1L).otherwise(0L).as("recip"))
      .groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        sum(col("recip")).cast("long").as("n_reciprocal"))
      .withColumn("recip_ppm",
        expr("""cast(cast(n_reciprocal as decimal(38,0)) * 1000000
          div n_vecs as bigint)"""))
      .orderBy("label")
  }

  /** Centroid-assignment margin histogram — how decisively each
    * vector picks its IVF cell: margin = cos(best centroid) −
    * cos(second-best), floored to micro-units and bucketed in 0.1
    * bands. A mass of low-margin vectors sits on cell BOUNDARIES —
    * their true neighbors straddle two cells, which is exactly when
    * nprobe=1 recall collapses and q_ann_ivf_multiprobe's second
    * probe pays for itself. This histogram is the a-priori read of
    * that tradeoff (q_ivf_balance audits cell sizes; this audits
    * assignment confidence).
    *
    * Scale shape: the shared broadcast-centroid cross + ONE per-vec
    * rank window; the histogram is a combine to the ≤ 21-band grid
    * with shares riding it. */
  def assignMargin(s: SparkSession, dir: String): DataFrame = {
    val base = withNorm(s, dir)
    val cents = base.where(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"),
        col("norm").as("cent_norm"))
    val rankW = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id"))
    base.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        r6(dot("embedding", "cent_emb") / (col("norm") * col("cent_norm")))
          .as("ccos"))
      .withColumn("ar", row_number().over(rankW)).where(col("ar") <= 2)
      .groupBy(col("vec_id"))
      .agg(max(when(col("ar") === 1, col("ccos"))).as("c1"),
        max(when(col("ar") === 2, col("ccos"))).as("c2"))
      .select(floor((col("c1") - col("c2")) * lit(1000000.0)).cast("long")
        .as("margin_u"))
      .select(expr("margin_u div 100000").as("band"), col("margin_u"))
      .groupBy(col("band"))
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        min(col("margin_u")).as("min_margin_u"),
        max(col("margin_u")).as("max_margin_u"))
      .withColumn("share_ppm", expr(
        """cast(cast(n_vecs as decimal(38,0)) * 1000000
          div sum(n_vecs) over (partition by 1) as bigint)"""))
      .orderBy("band")
  }

  /** Pairwise covariance of the first 8 embedding dimensions — the
    * redundancy read on embedding capacity (strongly covarying dims
    * waste width; the diagonal is per-dim variance, the input
    * q_pca_power's direction profile can't give): exact integers end
    * to end — micro-unit quantization scan-side, DECIMAL(38,0) power
    * sums, covariance as the truncating (n·Σxy − Σx·Σy) div n² in
    * micro²-units. The 8-dim scope keeps the pair fanout a fixed 36×
    * on the scan (corpus-independent); full-width covariance at scale
    * is the same shape with a d²-bounded grid.
    *
    * Scale shape: the pair explode is scan-side with constant fanout;
    * ONE combine to the 36-cell grid; everything after is grid
    * arithmetic. */
  def dimCovariance(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(explode(expr(
        """flatten(transform(sequence(0, 7), i ->
          |  transform(sequence(i, 7), j -> struct(
          |    i AS i, j AS j,
          |    cast(floor(cast(element_at(embedding, cast(i as int) + 1)
          |      as double) * cast(1000000 as double)) as bigint) AS qi,
          |    cast(floor(cast(element_at(embedding, cast(j as int) + 1)
          |      as double) * cast(1000000 as double)) as bigint) AS qj))))
          |""".stripMargin)).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"),
        col("p.qi").as("qi"), col("p.qj").as("qj"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        sum(col("qi").cast("decimal(38,0)")).as("sx"),
        sum(col("qj").cast("decimal(38,0)")).as("sy"),
        sum((col("qi") * col("qj")).cast("decimal(38,0)")).as("sxy"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("n_vecs"),
        expr("""cast((n_vecs * sxy - sx * sy)
          div (cast(n_vecs as decimal(38,0)) * n_vecs) as bigint)""")
          .as("cov_micro2"))
      .orderBy("i", "j")

  /** Effective dimensionality — the participation ratio
    * PR = (Σᵢ varᵢ)² / Σᵢ varᵢ² over all 64 dimensions, the one
    * number that says how much of the embedding width actually
    * carries variance (PR = d for isotropic, → 1 when one direction
    * dominates): the headline beside q_pca_power's direction profile
    * and q_dim_covariance's pairwise detail. Exact integers end to
    * end — micro-unit quantization, DECIMAL(38,0) power sums,
    * per-dim variance by the truncating covariance rule, PR in
    * truncating micro-dims.
    *
    * Scale shape: one posexplode (fixed 64× fanout) + ONE combine to
    * the |dims| grid + a 1-row reduce. */
  def effectiveDims(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"),
        expr("""cast(floor(cast(x as double) * cast(1000000 as double))
          as bigint)""").as("q"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("q").cast("decimal(38,0)")).as("sx"),
        sum((col("q") * col("q")).cast("decimal(38,0)")).as("sxx"))
      .select(expr("""cast((n * sxx - sx * sx)
        div (cast(n as decimal(38,0)) * n) as bigint)""").as("v"))
      .agg(count(lit(1)).cast("long").as("n_dims"),
        sum(col("v").cast("decimal(38,0)")).as("sv"),
        sum(expr("cast(v as decimal(38,0)) * v")).as("svv"))
      .select(col("n_dims"),
        col("sv").cast("long").as("sum_var_micro2"),
        expr("""cast(sv * sv * 1000000 div svv as bigint)""")
          .as("pr_micro"))

  /** Mean-reciprocal-rank eval of the PQ/ADC serving path — the
    * ranking-quality complement to q_pq_recall's recall@5: for each
    * eval query, WHERE the exact nearest neighbor lands in the ADC
    * top-5 (rank, −1 on a miss) and the reciprocal rank in ppm. MRR
    * penalizes a truth hit buried at rank 5 where recall@5 calls it
    * perfect — the metric that predicts user-facing search quality.
    * Truth and candidate ranks both derive from the shared
    * fixed-IEEE micro-unit distances, so ranks are engine-exact.
    *
    * Scale shape: truth = the bounded 10-query broadcast × one exact
    * scan (the q_pq_recall pattern); the rank join touches only
    * (queries × 5)-row frames; the production ADC operator is reused
    * verbatim. */
  def mrrEval(s: SparkSession, dir: String): DataFrame = {
    val fv = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"),
      graft.functions.GraftFunctions.array_dot(col("embedding"), col("embedding"))
        .as("xx"))
    val q = fv.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("xx").as("qxx"))
    val truthW = Window.partitionBy(col("qid"))
      .orderBy(col("d2u"), col("vec_id"))
    val truth = fv.crossJoin(broadcast(q))
      .where(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        floor((col("qxx") + col("xx") - lit(2.0) * dot("qe", "embedding"))
          * lit(1000000.0)).cast("long").as("d2u"))
      .withColumn("rn", row_number().over(truthW)).where(col("rn") === 1)
      .select(col("qid"), col("vec_id").as("truth_id"))
    val adc = annPqSearch(s, dir)
      .select(col("qid"), col("vec_id").as("truth_id"),
        col("rn").as("adc_rank"))
    truth.join(adc, Seq("qid", "truth_id"), "left")
      .select(col("qid"), col("truth_id"),
        coalesce(col("adc_rank"), lit(-1L)).as("adc_rank"),
        when(col("adc_rank").isNotNull,
          expr("1000000 div adc_rank")).otherwise(0L).as("rr_ppm"))
      .orderBy("qid")
  }

  /** Exact dedup over opaque BINARY media payloads, per mime type —
    * the multimodal twin of q_exact_dedup: media dedup hashes the
    * payload bytes (codec-agnostic — a byte-identical image is a dup
    * whatever it depicts), and the per-mime storage ledger (payload
    * count, unique count, dup rows, total vs unique bytes, saved
    * ppm) is the number a 100 TB media lake dedups FOR. Payloads are
    * the document bytes under a deterministic doc_id-mod mime
    * assignment, and a planted byte-identical mirror copy (doc_id %
    * 4 = 0) keeps the grouping genuinely exercised at gate SF — the
    * q_dedup_survivorship plant pattern on the binary column. The
    * mirror needs no re-keyed doc_id: the hash grouping never sees
    * doc_id, so the copy rides as a bare duplicate row (r9 — the
    * previous +2e7 re-key was inert and, like the survivorship
    * offset ADVICE r8 flagged, collision-prone at ≥ 2e7 docs).
    *
    * Scale shape: hashing is scan-side on the binary column; ONE
    * content-hash combine + a mime-grid rollup — identical physics
    * to text exact-dedup, payload size only affects the scan. */
  def mediaDedup(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.spread(s, t(s, dir, "documents"))
      .select(col("doc_id"),
        expr("""case when doc_id % 3 = 0 then 'image/x-stub'
          when doc_id % 3 = 1 then 'audio/x-stub'
          else 'video/x-stub' end""").as("mime"),
        encode(col("text"), "UTF-8").as("payload"))
    val withMirror = base.unionAll(
      base.where(col("doc_id") % 4 === 0)
        .select(col("doc_id"), col("mime"), col("payload")))
    withMirror
      .select(col("mime"), sha2(col("payload"), 256).as("h"),
        octet_length(col("payload")).cast("long").as("n_bytes"))
      .groupBy(col("mime"), col("h"))
      .agg(count(lit(1)).cast("long").as("n_copies"),
        max(col("n_bytes")).as("n_bytes"))
      .groupBy(col("mime"))
      .agg(sum(col("n_copies")).cast("long").as("n_payloads"),
        count(lit(1)).cast("long").as("n_unique"),
        sum(col("n_copies") - 1L).cast("long").as("n_dup_rows"),
        sum((col("n_bytes") * col("n_copies")).cast("decimal(38,0)"))
          .cast("long").as("bytes_total"),
        sum(col("n_bytes").cast("decimal(38,0)")).cast("long")
          .as("bytes_unique"))
      .withColumn("saved_ppm",
        expr("""cast(cast(bytes_total - bytes_unique as decimal(38,0))
          * 1000000 div bytes_total as bigint)"""))
      .orderBy("mime")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_media_dedup" -> mediaDedup _,
    "q_effective_dims" -> effectiveDims _,
    "q_mrr_eval" -> mrrEval _,
    "q_dim_covariance" -> dimCovariance _,
    "q_assign_margin" -> assignMargin _,
    "q_ivf_balance" -> ivfBalance _,
    "q_pq_residual" -> pqResidual _,
    "q_knn_reciprocity" -> knnReciprocity _,
    "q_ann_plan" -> annPlan _,
    "q_norm_bands" -> normBands _,
    "q_pca_power" -> pcaPower _,
    "q_centroid_drift" -> centroidDrift _,
    "q_embedding_outliers" -> embeddingOutliers _,
    "q_hubness" -> hubness _,
    "q_kcenter_select" -> kcenterSelect _,
    "q_mmr_rerank" -> mmrRerank _,
    "q_embedding_stats" -> embeddingStats _,
    "q_matryoshka_recall" -> matryoshkaRecall _,
    "q_rank_fusion" -> rankFusion _,
    "q_embedding_pool" -> embeddingPool _,
    "q_ann_ivfpq" -> annIvfPq _,
    "q_embedding_neardup" -> embeddingNeardup _,
    "q_srp_recall" -> srpRecall _,
    "q_semantic_dedup" -> semanticDedup _,
    "q_ann_ivf" -> annIvf _,
    "q_ann_ivf_multiprobe" -> annIvfMultiprobe _,
    "q_ann_recall" -> annRecall _,
    "q_kmeans_step" -> kmeansStep _,
    "q_product_quantize" -> productQuantize _,
    "q_ann_pq_search" -> annPqSearch _,
    "q_pq_recall" -> pqRecall _,
    "q_cluster_topterms" -> clusterTopterms _,
    "q_embedding_quantize" -> embeddingQuantize _,
    "q_multimodal_binary" -> multimodalBinary _,
    "q_frame_sample" -> frameSampleQuery _)

  /** The typed multimodal frame pipeline as a driver-graded query:
    * documents-as-media → decode → frame-sample every 4th frame →
    * scalar projection. The typed lazy-Iterator pipeline is the
    * operator; the stub codec is a pure byte-arithmetic function of
    * the payload, so its output is replayed exactly by the DuckDB
    * oracle (byte extraction via hex substrings) — the oracle checks
    * the whole typed path end to end, not just rows > 0. f0 values
    * are k/128 with k ∈ [-128,127]: exact in float and double, no
    * rounding needed on either engine. */
  def frameSampleQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.spread(s, t(s, dir, "documents"))
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
        lit("video/x-stub").as("mime"))
      .as[(Long, Array[Byte], String)]
      .map { case (id, p, m) => MultimodalStub.MediaIn(id, p, m) }
    MultimodalStub.frameSample(s, media, everyN = 4)
      .toDF()
      .select(col("docId").as("doc_id"),
        col("frameIdx").cast("long").as("frame_idx"),
        col("width").cast("long").as("width"),
        element_at(col("feature"), 1).cast("double").as("f0"))
      .orderBy("doc_id", "frame_idx")
  }

  private val phDuck = "CAST('0x' || substring(sha256(%s), 1, 15) AS BIGINT)"

  /** Shared DuckDB CTE prefix (planes → per-band signatures →
    * distinct SRP candidate pairs → normed embeddings) used by both
    * the near-dup and SemDeDup oracle generators, parameterized on
    * geometry exactly like the Spark side. */
  private def srpCandidateCtes(bands: Int, bits: Int): String =
    ("""gw AS (
        |  SELECT p.range AS p, i.range AS i,
        |         CAST(""" + phDuck.format("CAST(p.range AS VARCHAR) || ':' || CAST(i.range AS VARCHAR)") + s""" % 2001 - 1000 AS DOUBLE) / CAST(1000 AS DOUBLE) AS w
        |  FROM range(0, ${bands * bits}) p, range(1, 65) i),
        |planes AS (SELECT p, list(w ORDER BY i) AS pw FROM gw GROUP BY p),
        |bits AS (
        |  SELECT e.vec_id, pl.p // $bits AS band,
        |         CASE WHEN list_reduce(list_transform(list_zip(e.embedding, pl.pw),
        |                  x -> CAST(x[1] AS DOUBLE) * x[2]), (a, v) -> a + v) > 0
        |           THEN 1::BIGINT << (pl.p % $bits) ELSE 0::BIGINT END AS bit
        |  FROM embeddings e, planes pl),
        |s AS (SELECT vec_id, band, CAST(sum(bit) AS BIGINT) AS sig
        |      FROM bits GROUP BY vec_id, band),
        |e2 AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_reduce(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v)) AS norm
        |  FROM embeddings),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        |  FROM s a JOIN s b ON a.band = b.band AND a.sig = b.sig
        |                   AND a.vec_id < b.vec_id)""").stripMargin

  /** DuckDB oracle for q_embedding_neardup at ANY geometry — the same
    * generator the declared default-geometry oracle comes from, so a
    * deployment overriding `spark.graft.srp.*` derives its matching
    * oracle instead of editing SQL by hand. */
  private[graft] def neardupOracle(bands: Int, bits: Int): String =
    s"WITH ${srpCandidateCtes(bands, bits)}\n" +
    """SELECT vec_a, vec_b,
        |       round(list_reduce(list_transform(list_zip(x.embedding, y.embedding),
        |               t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)), (acc, v) -> acc + v)
        |             / (x.norm * y.norm), 6) AS cos
        |FROM cand JOIN e2 x ON x.vec_id = cand.vec_a
        |          JOIN e2 y ON y.vec_id = cand.vec_b
        |WHERE round(list_reduce(list_transform(list_zip(x.embedding, y.embedding),
        |               t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)), (acc, v) -> acc + v)
        |             / (x.norm * y.norm), 6) >= 0.25
        |ORDER BY vec_a, vec_b""".stripMargin

  /** DuckDB oracle for q_semantic_dedup: SRP candidates + the
    * q_ann_ivf centroid assignment + the pair-local keep rule, all in
    * the dialect-shared arithmetic, generated per geometry like
    * [[neardupOracle]]. */
  private[graft] def semanticDedupOracle(bands: Int, bits: Int): String =
    s"WITH ${srpCandidateCtes(bands, bits)},\n" +
    """cents AS (
        |  SELECT vec_id AS cent_id, embedding AS cent_emb, norm AS cent_norm
        |  FROM e2 WHERE vec_id < 16),
        |assign AS (
        |  SELECT vec_id, cent_id AS cluster_id, ccos FROM (
        |    SELECT b.vec_id, c.cent_id,
        |           round(list_reduce(list_transform(list_zip(b.embedding, c.cent_emb),
        |                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
        |                 / (b.norm * c.cent_norm), 6) AS ccos
        |    FROM e2 b, cents c)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) = 1),
        |pairs AS (
        |  SELECT cand.vec_a, cand.vec_b,
        |         round(list_reduce(list_transform(list_zip(x.embedding, y.embedding),
        |                 t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)), (acc, v) -> acc + v)
        |               / (x.norm * y.norm), 6) AS cos
        |  FROM cand JOIN e2 x ON x.vec_id = cand.vec_a
        |            JOIN e2 y ON y.vec_id = cand.vec_b
        |  WHERE round(list_reduce(list_transform(list_zip(x.embedding, y.embedding),
        |                 t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)), (acc, v) -> acc + v)
        |               / (x.norm * y.norm), 6) >= 0.25),
        |wc AS (
        |  SELECT a.cluster_id, p.vec_a, p.vec_b, p.cos,
        |         a.ccos AS ccos_a, b.ccos AS ccos_b
        |  FROM pairs p JOIN assign a ON p.vec_a = a.vec_id
        |               JOIN assign b ON p.vec_b = b.vec_id
        |  WHERE a.cluster_id = b.cluster_id),
        |drops AS (
        |  SELECT cluster_id,
        |         CASE WHEN ccos_a > ccos_b OR (ccos_a = ccos_b AND vec_a > vec_b)
        |              THEN vec_a ELSE vec_b END AS dropped_id,
        |         CASE WHEN ccos_a > ccos_b OR (ccos_a = ccos_b AND vec_a > vec_b)
        |              THEN vec_b ELSE vec_a END AS witness_id,
        |         cos
        |  FROM wc)
        |SELECT cluster_id, dropped_id, witness_id, cos
        |FROM drops
        |QUALIFY row_number() OVER (PARTITION BY dropped_id ORDER BY cos DESC, witness_id) = 1
        |ORDER BY cluster_id, dropped_id""".stripMargin

  /** DuckDB oracle for q_srp_recall, generated per geometry like
    * [[neardupOracle]]. */
  private[graft] def srpRecallOracle(bands: Int, bits: Int): String =
    s"WITH ${srpCandidateCtes(bands, bits)},\n" +
    """scand AS (
        |  SELECT vec_a, vec_b FROM cand WHERE vec_a < 200 AND vec_b < 200),
        |truth AS (
        |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
        |  FROM e2 x, e2 y
        |  WHERE x.vec_id < y.vec_id AND x.vec_id < 200 AND y.vec_id < 200
        |    AND round(list_reduce(list_transform(list_zip(x.embedding, y.embedding),
        |              t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)), (acc, v) -> acc + v)
        |            / (x.norm * y.norm), 6) >= 0.25),
        |hit AS (SELECT truth.vec_a, truth.vec_b
        |        FROM truth JOIN scand USING (vec_a, vec_b)),
        |t AS (SELECT count(*) AS n_truth FROM truth),
        |c AS (SELECT count(*) AS n_cand FROM scand),
        |h AS (SELECT count(*) AS n_hit FROM hit)
        |SELECT n_truth, n_cand, n_hit,
        |       CAST(1000000 * n_hit // greatest(n_truth, 1) AS BIGINT) AS recall_ppm,
        |       CAST(1000000 * n_hit // greatest(n_cand, 1) AS BIGINT) AS precision_ppm
        |FROM t, c, h""".stripMargin

  // lazy: rankFusionOracle embeds LlmOps.oracles("q_cosine_topk"),
  // and LlmOps' own init references VectorOps (consensus oracle) —
  // eager evaluation here would re-enter the half-initialized LlmOps
  // and read a null map (ExceptionInInitializerError).
  /** The portable cosine text between aliases `b` and `c` (same fold
    * + round-6 as every ANN oracle). */
  private def cosBC(l: String, r: String, ln: String, rn: String): String =
    s"""round(list_reduce(list_transform(list_zip($l, $r),
       |            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
       |          / ($ln * $rn), 6)""".stripMargin

  /** q_kcenter_select's greedy recursion unrolled: level t extends
    * each surviving vector's max-cos with center t−1 (greatest — max
    * is associative, so the incremental form equals the Spark side's
    * greatest-over-all-centers), then picks the (close ASC, vec_id)
    * argmin. */
  private lazy val kcenterOracle: String = {
    val dot = cosBC("b.embedding", "c.embedding", "b.norm", "c.norm")
    val levels = (1 to 7).map { t =>
      val src = if (t == 1) "base" else s"d${t - 1}"
      val close = if (t == 1) dot else s"greatest(b.close, $dot)"
      val centDef = if (t == 1) "" else
        s"""c${t - 1} AS (
           |  SELECT d.vec_id, d.embedding, d.norm
           |  FROM d${t - 1} d, p${t - 1} WHERE d.vec_id = p${t - 1}.vec_id),
           |""".stripMargin
      s"""${centDef}d$t AS (
         |  SELECT b.vec_id, b.embedding, b.norm,
         |         $close AS close
         |  FROM $src b, c${t - 1} c WHERE b.vec_id != c.vec_id),
         |p$t AS (SELECT vec_id, close FROM d$t ORDER BY close ASC, vec_id LIMIT 1)"""
        .stripMargin
    }.mkString(",\n")
    val rows = (1 to 7).map { t =>
      s"""SELECT CAST($t AS BIGINT) AS step, vec_id AS center_id,
         |       CAST(round(close * 1000000.0, 0) AS BIGINT) AS far_cos_ppm
         |FROM p$t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |         sqrt(list_reduce(list_transform(embedding,
       |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v)) AS norm
       |  FROM embeddings),
       |c0 AS (SELECT vec_id, embedding, norm FROM base ORDER BY vec_id LIMIT 1),
       |$levels
       |SELECT CAST(0 AS BIGINT) AS step,
       |       (SELECT vec_id FROM c0) AS center_id,
       |       CAST(1000000 AS BIGINT) AS far_cos_ppm
       |UNION ALL
       |$rows
       |ORDER BY step""".stripMargin
  }

  /** q_mmr_rerank's greedy steps unrolled: per level, max-sim to the
    * selected set, exact-ppm score, (score DESC, cid) argmax, selected
    * set grows by one. */
  private lazy val mmrOracle: String = {
    val simDot = cosBC("ea.embedding", "eb.embedding", "ea.norm", "eb.norm")
    val steps = (2 to 5).map { t =>
      s"""m$t AS (
         |  SELECT m.qid, m.cid_a AS cid, max(m.sim_ppm) AS maxsim
         |  FROM sims m JOIN sel${t - 1} s ON m.qid = s.qid AND m.cid_b = s.cid
         |  GROUP BY m.qid, m.cid_a),
         |x$t AS (
         |  SELECT p.qid, p.cid, 7 * p.rel_ppm - 3 * coalesce(m.maxsim, 0) AS score
         |  FROM pool p LEFT JOIN m$t m ON p.qid = m.qid AND p.cid = m.cid
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} s
         |                    WHERE s.qid = p.qid AND s.cid = p.cid)),
         |p$t AS (
         |  SELECT qid, cid, score FROM x$t
         |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) = 1),
         |sel$t AS (SELECT qid, cid FROM sel${t - 1}
         |          UNION ALL SELECT qid, cid FROM p$t)""".stripMargin
    }.mkString(",\n")
    val rows = (2 to 5).map { t =>
      s"""SELECT qid, CAST($t AS BIGINT) AS step, cid,
         |       CAST(score AS BIGINT) AS mmr_score FROM p$t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH base AS (
       |  SELECT vec_id, embedding,
       |         sqrt(list_reduce(list_transform(embedding,
       |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v)) AS norm
       |  FROM embeddings),
       |p AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS cid,
       |         ${cosBC("q.embedding", "c.embedding", "q.norm", "c.norm")} AS cos
       |  FROM base q, base c
       |  WHERE q.vec_id < 5 AND q.vec_id != c.vec_id),
       |pool AS (
       |  SELECT qid, cid, CAST(round(cos * 1000000.0, 0) AS BIGINT) AS rel_ppm
       |  FROM p
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) <= 20),
       |sims AS (
       |  SELECT a.qid, a.cid AS cid_a, b.cid AS cid_b,
       |         CAST(round($simDot * 1000000.0, 0) AS BIGINT) AS sim_ppm
       |  FROM pool a JOIN pool b ON a.qid = b.qid AND a.cid != b.cid
       |  JOIN base ea ON ea.vec_id = a.cid
       |  JOIN base eb ON eb.vec_id = b.cid),
       |sel1 AS (
       |  SELECT qid, cid, 7 * rel_ppm AS score FROM pool
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY rel_ppm DESC, cid) = 1),
       |$steps
       |SELECT qid, CAST(1 AS BIGINT) AS step, cid,
       |       CAST(score AS BIGINT) AS mmr_score FROM sel1
       |UNION ALL
       |$rows
       |ORDER BY qid, step""".stripMargin
  }

  lazy val oracles: Map[String, String] = Map(
    // Same 1-row reduce, same bitlength-derived power-of-two nlist,
    // same integer sizing arithmetic.
    "q_ann_plan" ->
      """WITH a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        |         CAST(max(len(embedding)) AS BIGINT) AS dims
        |  FROM embeddings),
        |b AS (
        |  SELECT n_vecs, dims,
        |         CAST(pow(2, length(bin(n_vecs)) // 2) AS BIGINT)
        |           AS nlist,
        |         dims * 4 AS raw_bytes_per_vec,
        |         dims // 4 AS pq_code_bytes
        |  FROM a)
        |SELECT n_vecs, dims, nlist,
        |       CAST(n_vecs // nlist AS BIGINT) AS rows_per_cell,
        |       greatest(CAST(nlist // 16 AS BIGINT), 1)
        |         AS nprobe_default,
        |       CAST(raw_bytes_per_vec AS BIGINT) AS raw_bytes_per_vec,
        |       CAST(pq_code_bytes AS BIGINT) AS pq_code_bytes,
        |       CAST(raw_bytes_per_vec // pq_code_bytes AS BIGINT)
        |         AS scan_shrink_x
        |FROM b""".stripMargin,
    // Same micro-unit squares, same bitlength bands (bin() length =
    // exact integer log2 in both engines; 0 → band 0).
    "q_norm_bands" ->
      """WITH n AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |         CAST(list_sum(list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0)
        |                AS HUGEINT) *
        |                CAST(floor(CAST(x AS DOUBLE) * 1000000.0)
        |                AS BIGINT))) AS BIGINT) AS norm2_u2
        |  FROM embeddings)
        |SELECT label, norm2_u2_band AS band,
        |       CAST(count(*) AS BIGINT) AS n_vecs,
        |       min(norm2_u2) AS min_norm2_u2,
        |       max(norm2_u2) AS max_norm2_u2
        |FROM (SELECT label, norm2_u2,
        |             CASE WHEN norm2_u2 > 0
        |                  THEN CAST(length(bin(norm2_u2)) AS BIGINT)
        |                  ELSE CAST(0 AS BIGINT) END AS norm2_u2_band
        |      FROM n)
        |GROUP BY label, band ORDER BY label, band""".stripMargin,
    // Same micro-unit floors, same per-vector component sum, same
    // HUGEINT y sums and truncating share ppm — bit-exact.
    "q_pca_power" ->
      """WITH v AS (
        |  SELECT list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0)
        |                AS BIGINT)) AS vu
        |  FROM embeddings),
        |s AS (SELECT vu, CAST(list_sum(vu) AS BIGINT) AS svec FROM v),
        |x AS (SELECT svec, unnest(range(0, len(vu))) AS dim,
        |             unnest(vu) AS vud
        |      FROM s),
        |y AS (SELECT CAST(dim AS BIGINT) AS dim,
        |             CAST(count(*) AS BIGINT) AS n_vecs,
        |             sum(CAST(svec AS HUGEINT) * vud) AS y
        |      FROM x GROUP BY 1)
        |SELECT dim, n_vecs, CAST(y AS BIGINT) AS y_u2,
        |       CAST(abs(y) * 1000000 //
        |            (SELECT sum(abs(y)) FROM y) AS BIGINT) AS share_ppm
        |FROM y ORDER BY dim""".stripMargin,
    // Same integer centroid means, same exact integer distance/dot
    // sums over the bounded (label, dim) frame.
    "q_centroid_drift" ->
      """WITH x AS (
        |  SELECT CAST(label AS BIGINT) AS label,
        |         unnest(range(0, len(embedding))) AS dim,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
        |           AS BIGINT) AS vu
        |  FROM embeddings),
        |bl AS (
        |  SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(vu AS HUGEINT)) // count(*) AS BIGINT) AS m
        |  FROM x GROUP BY 1, 2),
        |g AS (
        |  SELECT dim,
        |         CAST(sum(CAST(vu AS HUGEINT)) // count(*) AS BIGINT) AS g
        |  FROM x GROUP BY 1)
        |SELECT bl.label, max(bl.n) AS n_vecs,
        |       CAST(sum(CAST(bl.m - g.g AS HUGEINT) * (bl.m - g.g))
        |            AS BIGINT) AS dist2_u2,
        |       CAST(sum(CAST(bl.m AS HUGEINT) * g.g) AS BIGINT)
        |         AS dot_u2
        |FROM bl JOIN g ON bl.dim = g.dim
        |GROUP BY bl.label ORDER BY bl.label""".stripMargin,
    // Same micro-unit floor, same integer centroid division, same
    // HUGEINT squared-distance sums, same (dist desc, vec_id) order.
    "q_embedding_outliers" ->
      """WITH e AS (
        |  SELECT vec_id, label, unnest(embedding) AS v,
        |         unnest(range(0, len(embedding))) AS dim
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, label, dim,
        |         CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT) AS vu
        |  FROM e),
        |c AS (
        |  SELECT dim, CAST(sum(CAST(vu AS HUGEINT)) // count(*) AS BIGINT)
        |           AS mean_u
        |  FROM q GROUP BY dim),
        |d AS (
        |  SELECT q.vec_id, q.label,
        |         CAST(sum(CAST(q.vu - c.mean_u AS HUGEINT) *
        |                  (q.vu - c.mean_u)) AS BIGINT) AS dist2_u2
        |  FROM q JOIN c USING (dim) GROUP BY 1, 2)
        |SELECT vec_id, CAST(label AS BIGINT) AS label, dist2_u2
        |FROM d ORDER BY dist2_u2 DESC, vec_id LIMIT 20""".stripMargin,
    // Same bounded query slice, same top-10 rank rule, same zero-row
    // complement arithmetic.
    "q_hubness" ->
      """WITH base AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_reduce(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v)) AS norm
        |  FROM embeddings),
        |p AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS cid,
        |         round(list_reduce(list_transform(list_zip(q.embedding, c.embedding),
        |                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
        |               / (q.norm * c.norm), 6) AS cos
        |  FROM base q, base c
        |  WHERE q.vec_id < 100 AND q.vec_id != c.vec_id),
        |top AS (
        |  SELECT qid, cid FROM p
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) <= 10),
        |occ AS (SELECT cid, count(*) AS occ FROM top GROUP BY cid),
        |dist AS (
        |  SELECT CAST(occ AS BIGINT) AS k_occurrence,
        |         CAST(count(*) AS BIGINT) AS n_vectors
        |  FROM occ GROUP BY occ),
        |zero AS (
        |  SELECT CAST(0 AS BIGINT) AS k_occurrence,
        |         CAST((SELECT count(*) FROM base)
        |           - (SELECT count(*) FROM occ) AS BIGINT) AS n_vectors)
        |SELECT * FROM dist UNION ALL SELECT * FROM zero
        |ORDER BY k_occurrence""".stripMargin,
    // The same greedy recursion unrolled: 7 incremental levels, each
    // extending per-vector max-cos with the latest center then taking
    // the (closeness ASC, vec_id) argmin — identical fold, round-6,
    // ppm conversion, and tie rule.
    "q_kcenter_select" -> kcenterOracle,
    // Same pool (top-20 per query), same pairwise sims, same 5
    // unrolled greedy steps in exact integer ppm.
    "q_mmr_rerank" -> mmrOracle,
    // Same scan-side micro-unit floors, same HUGEINT power sums and
    // one exact integer variance division — bit-exact.
    "q_embedding_stats" ->
      """WITH x AS (
        |  SELECT unnest(range(0, len(embedding))) AS dim,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
        |           AS BIGINT) AS vu
        |  FROM embeddings),
        |a AS (
        |  SELECT dim, count(*) AS n_vecs,
        |         sum(CAST(vu AS HUGEINT)) AS s1,
        |         sum(CAST(vu AS HUGEINT) * vu) AS s2,
        |         min(vu) AS min_u, max(vu) AS max_u
        |  FROM x GROUP BY dim)
        |SELECT CAST(dim AS BIGINT) AS dim, n_vecs,
        |       CAST(s1 // n_vecs AS BIGINT) AS mean_u,
        |       CAST((CAST(n_vecs AS HUGEINT) * s2 - s1 * s1)
        |         // (CAST(n_vecs AS HUGEINT) * n_vecs) AS BIGINT) AS var_u2,
        |       min_u, max_u
        |FROM a ORDER BY dim""".stripMargin,
    // Same sliced-prefix fold as the Spark side: emb[1:D] then the
    // list_reduce dot ≡ array_dot, sqrt/div identical IEEE sequence,
    // rank ties broken by cid in both engines.
    "q_matryoshka_recall" ->
      """WITH b64 AS (
        |  SELECT vec_id, embedding[1:64] AS emb,
        |         sqrt(list_reduce(list_transform(embedding[1:64],
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v)) AS nrm
        |  FROM embeddings),
        |b16 AS (
        |  SELECT vec_id, embedding[1:16] AS emb,
        |         sqrt(list_reduce(list_transform(embedding[1:16],
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v)) AS nrm
        |  FROM embeddings),
        |b32 AS (
        |  SELECT vec_id, embedding[1:32] AS emb,
        |         sqrt(list_reduce(list_transform(embedding[1:32],
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v)) AS nrm
        |  FROM embeddings),
        |t64 AS (
        |  SELECT qid, cid FROM (
        |    SELECT q.vec_id AS qid, c.vec_id AS cid,
        |           round(list_reduce(list_transform(list_zip(q.emb, c.emb),
        |                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
        |                 / (q.nrm * c.nrm), 6) AS cos
        |    FROM b64 q, b64 c WHERE q.vec_id < 20 AND q.vec_id != c.vec_id)
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) <= 3),
        |t16 AS (
        |  SELECT qid, cid FROM (
        |    SELECT q.vec_id AS qid, c.vec_id AS cid,
        |           round(list_reduce(list_transform(list_zip(q.emb, c.emb),
        |                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
        |                 / (q.nrm * c.nrm), 6) AS cos
        |    FROM b16 q, b16 c WHERE q.vec_id < 20 AND q.vec_id != c.vec_id)
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) <= 3),
        |t32 AS (
        |  SELECT qid, cid FROM (
        |    SELECT q.vec_id AS qid, c.vec_id AS cid,
        |           round(list_reduce(list_transform(list_zip(q.emb, c.emb),
        |                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
        |                 / (q.nrm * c.nrm), 6) AS cos
        |    FROM b32 q, b32 c WHERE q.vec_id < 20 AND q.vec_id != c.vec_id)
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) <= 3)
        |SELECT t.qid, count(s.cid) AS n_hit_16,
        |       round(CAST(count(s.cid) AS DOUBLE) / CAST(3 AS DOUBLE), 6)
        |         AS recall_16,
        |       count(h.cid) AS n_hit_32,
        |       round(CAST(count(h.cid) AS DOUBLE) / CAST(3 AS DOUBLE), 6)
        |         AS recall_32
        |FROM t64 t
        |LEFT JOIN t16 s ON s.qid = t.qid AND s.cid = t.cid
        |LEFT JOIN t32 h ON h.qid = t.qid AND h.cid = t.cid
        |GROUP BY t.qid
        |ORDER BY t.qid""".stripMargin,
    "q_embedding_neardup" -> neardupOracle(SrpBands, SrpBits),
    "q_srp_recall" -> srpRecallOracle(SrpBands, SrpBits),
    "q_semantic_dedup" -> semanticDedupOracle(8, 8),
    // Replays MultimodalStub.frameSample(everyN=4) byte-for-byte:
    // frame count = max(1, bytes/16), byte b = payload[idx % n]
    // (signed), width = 64 + |b| % 64, f0 = (b % 128)/128 (exact
    // power-of-two double). Both engines' % preserves dividend sign.
    "q_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id, hex(encode(text)) AS ph,
        |         octet_length(encode(text)) AS n
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, ph, n,
        |         CAST(unnest(range(0, greatest(1, n // 16), 4)) AS BIGINT)
        |           AS frame_idx
        |  FROM m),
        |b AS (
        |  SELECT doc_id, frame_idx,
        |         CASE WHEN ub >= 128 THEN ub - 256 ELSE ub END AS sb
        |  FROM (
        |    SELECT doc_id, frame_idx,
        |           CASE WHEN n = 0 THEN 0
        |                ELSE CAST('0x' || substring(
        |                       ph, CAST(2 * (frame_idx % n) + 1 AS INT), 2)
        |                     AS INT) END AS ub
        |    FROM f))
        |SELECT doc_id, frame_idx,
        |       CAST(64 + abs(sb) % 64 AS BIGINT) AS width,
        |       CAST(sb % 128 AS DOUBLE) / CAST(128 AS DOUBLE) AS f0
        |FROM b
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "q_product_quantize" -> pqOracle(PqM, PqK),
    "q_pq_residual" -> pqResidualOracle(PqM, PqK),
    "q_mrr_eval" -> mrrOracle(PqM, PqK),
    // Same mime assignment, same planted mirror, same payload-byte
    // hashing (sha over the UTF-8 bytes ≡ sha over the string) and
    // integer byte ledger.
    "q_media_dedup" ->
      """WITH base AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0 THEN 'image/x-stub'
        |              WHEN doc_id % 3 = 1 THEN 'audio/x-stub'
        |              ELSE 'video/x-stub' END AS mime,
        |         sha256(text) AS h,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents),
        |a AS (
        |  SELECT mime, h, n_bytes FROM base
        |  UNION ALL
        |  SELECT mime, h, n_bytes FROM base WHERE doc_id % 4 = 0),
        |g AS (
        |  SELECT mime, h, CAST(count(*) AS BIGINT) AS n_copies,
        |         max(n_bytes) AS n_bytes
        |  FROM a GROUP BY 1, 2)
        |SELECT mime, CAST(sum(n_copies) AS BIGINT) AS n_payloads,
        |       CAST(count(*) AS BIGINT) AS n_unique,
        |       CAST(sum(n_copies - 1) AS BIGINT) AS n_dup_rows,
        |       CAST(sum(n_bytes * n_copies) AS BIGINT) AS bytes_total,
        |       CAST(sum(n_bytes) AS BIGINT) AS bytes_unique,
        |       CAST(CAST(sum(n_bytes * n_copies) - sum(n_bytes) AS HUGEINT)
        |            * 1000000 // sum(n_bytes * n_copies) AS BIGINT)
        |         AS saved_ppm
        |FROM g GROUP BY mime ORDER BY mime""".stripMargin,
    // Same quantization + power sums; PR from exact wide-cast
    // integer arithmetic.
    "q_effective_dims" ->
      """WITH e AS (
        |  SELECT dim,
        |         CAST(floor(CAST(x AS DOUBLE) * CAST(1000000 AS DOUBLE))
        |           AS BIGINT) AS q
        |  FROM (SELECT unnest(embedding) AS x,
        |               unnest(range(0, len(embedding))) AS dim
        |        FROM embeddings)),
        |g AS (
        |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(q) AS HUGEINT) AS sx,
        |         CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sxx
        |  FROM e GROUP BY dim),
        |v AS (
        |  SELECT CAST((n * sxx - sx * sx)
        |              // (CAST(n AS HUGEINT) * n) AS BIGINT) AS v
        |  FROM g),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_dims,
        |         CAST(sum(v) AS HUGEINT) AS sv,
        |         CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS svv
        |  FROM v)
        |SELECT n_dims, CAST(sv AS BIGINT) AS sum_var_micro2,
        |       CAST(sv * sv * 1000000 // svv AS BIGINT) AS pr_micro
        |FROM a""".stripMargin,
    // Same micro-unit quantization, same exact power sums, same
    // truncating covariance arithmetic.
    "q_dim_covariance" ->
      """WITH p AS (
        |  SELECT i.range AS i, j.range AS j,
        |         CAST(floor(CAST(embedding[CAST(i.range AS INT) + 1]
        |           AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS qi,
        |         CAST(floor(CAST(embedding[CAST(j.range AS INT) + 1]
        |           AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS qj
        |  FROM embeddings, range(0, 8) i, range(0, 8) j
        |  WHERE j.range >= i.range),
        |g AS (
        |  SELECT i, j, CAST(count(*) AS BIGINT) AS n_vecs,
        |         CAST(sum(qi) AS HUGEINT) AS sx,
        |         CAST(sum(qj) AS HUGEINT) AS sy,
        |         CAST(sum(CAST(qi AS HUGEINT) * qj) AS HUGEINT) AS sxy
        |  FROM p GROUP BY i, j)
        |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, n_vecs,
        |       CAST((n_vecs * sxy - sx * sy)
        |            // (CAST(n_vecs AS HUGEINT) * n_vecs) AS BIGINT)
        |         AS cov_micro2
        |FROM g ORDER BY i, j""".stripMargin,
    // Same broadcast-centroid cross, same top-2 rank rule, same
    // micro-unit floors and 0.1 bands.
    "q_assign_margin" ->
      """WITH base AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_reduce(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v)) AS norm
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS cent_id, embedding AS cent_emb, norm AS cent_norm
        |  FROM base WHERE vec_id < 16),
        |cc AS (
        |  SELECT b.vec_id, c.cent_id,
        |         round(list_reduce(list_transform(list_zip(b.embedding, c.cent_emb),
        |                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
        |               / (b.norm * c.cent_norm), 6) AS ccos
        |  FROM base b, cents c),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY ccos DESC, cent_id) AS ar FROM cc),
        |m AS (
        |  SELECT vec_id,
        |         CAST(floor((max(CASE WHEN ar = 1 THEN ccos END)
        |           - max(CASE WHEN ar = 2 THEN ccos END))
        |           * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS margin_u
        |  FROM ranked WHERE ar <= 2 GROUP BY vec_id),
        |g AS (
        |  SELECT margin_u // 100000 AS band,
        |         CAST(count(*) AS BIGINT) AS n_vecs,
        |         min(margin_u) AS min_margin_u,
        |         max(margin_u) AS max_margin_u
        |  FROM m GROUP BY 1)
        |SELECT band, n_vecs, min_margin_u, max_margin_u,
        |       CAST(CAST(n_vecs AS HUGEINT) * 1000000
        |            // CAST(sum(n_vecs) OVER () AS BIGINT) AS BIGINT)
        |         AS share_ppm
        |FROM g ORDER BY band""".stripMargin,
    // Same broadcast-centroid assignment, same grid shares and
    // balance factor.
    "q_ivf_balance" ->
      """WITH base AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_reduce(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v)) AS norm
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS cent_id, embedding AS cent_emb, norm AS cent_norm
        |  FROM base WHERE vec_id < 16),
        |assign AS (
        |  SELECT vec_id, cent_id AS cluster_id FROM (
        |    SELECT b.vec_id, c.cent_id,
        |           round(list_reduce(list_transform(list_zip(b.embedding, c.cent_emb),
        |                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
        |                 / (b.norm * c.cent_norm), 6) AS ccos
        |    FROM base b, cents c)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) = 1),
        |sizes AS (
        |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_vecs
        |  FROM assign GROUP BY cluster_id),
        |tt AS (
        |  SELECT *, CAST(sum(n_vecs) OVER () AS BIGINT) AS total,
        |         CAST(count(*) OVER () AS BIGINT) AS n_cells
        |  FROM sizes)
        |SELECT cluster_id, n_vecs,
        |       CAST(CAST(n_vecs AS HUGEINT) * 1000000 // total AS BIGINT)
        |         AS share_ppm,
        |       CAST(CAST(n_vecs AS HUGEINT) * n_cells * 1000000 // total
        |            AS BIGINT) AS balance_ppm
        |FROM tt ORDER BY cluster_id""".stripMargin,
    // Same fixed eval window, same r6 cosine top-1 rule, same mutual
    // self-join and truncating ppm.
    "q_knn_reciprocity" ->
      """WITH base AS (
        |  SELECT vec_id, label, embedding,
        |         sqrt(list_reduce(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v)) AS norm
        |  FROM embeddings WHERE vec_id < 100),
        |p AS (
        |  SELECT q.vec_id AS qid, q.label AS qlabel, c.vec_id AS cid,
        |         round(list_reduce(list_transform(list_zip(q.embedding, c.embedding),
        |                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
        |               / (q.norm * c.norm), 6) AS cos
        |  FROM base q, base c WHERE q.vec_id != c.vec_id),
        |t1 AS (
        |  SELECT qid, qlabel, cid AS nbr FROM p
        |  QUALIFY row_number() OVER (PARTITION BY qid
        |    ORDER BY cos DESC, cid) = 1),
        |r AS (
        |  SELECT CAST(a.qlabel AS BIGINT) AS label,
        |         CASE WHEN b.qid IS NOT NULL THEN 1 ELSE 0 END AS recip
        |  FROM t1 a LEFT JOIN t1 b ON a.nbr = b.qid AND b.nbr = a.qid)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |       CAST(sum(recip) AS BIGINT) AS n_reciprocal,
        |       CAST(CAST(sum(recip) AS HUGEINT) * 1000000 // count(*)
        |            AS BIGINT) AS recip_ppm
        |FROM r GROUP BY label ORDER BY label""".stripMargin,
    "q_ann_pq_search" -> annPqOracle(PqM, PqK),
    "q_ann_ivfpq" -> annIvfPqOracle(PqM, PqK),
    "q_rank_fusion" -> rankFusionOracle(PqM, PqK),
    "q_pq_recall" -> pqRecallOracle(PqM, PqK),
    // Same DECIMAL(18,6)-routed sums and integer-µ-unit mean as the
    // q_kmeans_step oracle, keyed on label instead of cluster.
    "q_embedding_pool" ->
      """WITH m AS (
        |  SELECT label,
        |         unnest(embedding) AS v,
        |         unnest(range(0, len(embedding))) AS dim
        |  FROM embeddings)
        |SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
        |       count(*) AS n_members,
        |       CAST(CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6)))
        |              * 1000000 AS BIGINT) // count(*) AS BIGINT)
        |         AS mean_u
        |FROM m GROUP BY label, dim
        |ORDER BY label, dim""".stripMargin,
    "q_cluster_topterms" ->
      """WITH base AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_reduce(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v)) AS norm
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS cent_id, embedding AS cent_emb, norm AS cent_norm
        |  FROM base WHERE vec_id < 16),
        |assign AS (
        |  SELECT vec_id, cent_id AS cluster_id FROM (
        |    SELECT b.vec_id, c.cent_id,
        |           round(list_reduce(list_transform(list_zip(b.embedding, c.cent_emb),
        |                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
        |                 / (b.norm * c.cent_norm), 6) AS ccos
        |    FROM base b, cents c)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) = 1),
        |tok AS (
        |  SELECT a.cluster_id, unnest(string_split(d.text, ' ')) AS token
        |  FROM documents d JOIN assign a ON d.doc_id = a.vec_id),
        |c AS (
        |  SELECT cluster_id, token, count(*) AS cnt
        |  FROM tok GROUP BY cluster_id, token)
        |SELECT cluster_id, CAST(row_number() OVER w AS BIGINT) AS rank,
        |       token, cnt
        |FROM c
        |WINDOW w AS (PARTITION BY cluster_id ORDER BY cnt DESC, token)
        |QUALIFY row_number() OVER w <= 5
        |ORDER BY cluster_id, rank""".stripMargin,
    "q_ann_ivf" ->
      """WITH base AS (
        |  SELECT vec_id, embedding, label,
        |         sqrt(list_reduce(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v)) AS norm
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS cent_id, embedding AS cent_emb, norm AS cent_norm
        |  FROM base WHERE vec_id < 16),
        |assign AS (
        |  SELECT vec_id, cent_id AS cluster_id FROM (
        |    SELECT b.vec_id, c.cent_id,
        |           round(list_reduce(list_transform(list_zip(b.embedding, c.cent_emb),
        |                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
        |                 / (b.norm * c.cent_norm), 6) AS ccos
        |    FROM base b, cents c)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) = 1),
        |clustered AS (
        |  SELECT b.*, a.cluster_id FROM base b JOIN assign a USING (vec_id)),
        |pairs AS (
        |  SELECT q.vec_id AS qid, q.cluster_id, c.vec_id AS cid,
        |         round(list_reduce(list_transform(list_zip(q.embedding, c.embedding),
        |                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
        |               / (q.norm * c.norm), 6) AS cos
        |  FROM clustered q JOIN clustered c ON q.cluster_id = c.cluster_id
        |  WHERE q.vec_id < 20 AND q.vec_id != c.vec_id)
        |SELECT qid, cluster_id, CAST(row_number() OVER win AS BIGINT) AS rn, cid, cos
        |FROM pairs
        |WINDOW win AS (PARTITION BY qid ORDER BY cos DESC, cid)
        |QUALIFY row_number() OVER win <= 3
        |ORDER BY qid, rn""".stripMargin,
    "q_ann_ivf_multiprobe" ->
      """WITH base AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_reduce(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v)) AS norm
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS cent_id, embedding AS cent_emb, norm AS cent_norm
        |  FROM base WHERE vec_id < 16),
        |cc AS (
        |  SELECT b.vec_id, c.cent_id,
        |         round(list_reduce(list_transform(list_zip(b.embedding, c.cent_emb),
        |                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
        |               / (b.norm * c.cent_norm), 6) AS ccos
        |  FROM base b, cents c),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY ccos DESC, cent_id) AS ar FROM cc),
        |assign AS (SELECT vec_id, cent_id AS cluster_id FROM ranked WHERE ar = 1),
        |probes AS (SELECT vec_id AS qid, cent_id AS cluster_id
        |           FROM ranked WHERE ar <= 2 AND vec_id < 20),
        |clustered AS (
        |  SELECT b.vec_id, b.embedding, b.norm, a.cluster_id
        |  FROM base b JOIN assign a USING (vec_id)),
        |pairs AS (
        |  SELECT DISTINCT p.qid, c.vec_id AS cid,
        |         round(list_reduce(list_transform(list_zip(q.embedding, c.embedding),
        |                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
        |               / (q.norm * c.norm), 6) AS cos
        |  FROM probes p
        |  JOIN base q ON q.vec_id = p.qid
        |  JOIN clustered c ON c.cluster_id = p.cluster_id
        |  WHERE p.qid != c.vec_id)
        |SELECT qid, CAST(row_number() OVER win AS BIGINT) AS rn, cid, cos
        |FROM pairs
        |WINDOW win AS (PARTITION BY qid ORDER BY cos DESC, cid)
        |QUALIFY row_number() OVER win <= 3
        |ORDER BY qid, rn""".stripMargin,
    "q_kmeans_step" ->
      """WITH base AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_reduce(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v)) AS norm
        |  FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS cent_id, embedding AS cent_emb, norm AS cent_norm
        |  FROM base WHERE vec_id < 16),
        |cc AS (
        |  SELECT b.vec_id, c.cent_id,
        |         round(list_reduce(list_transform(list_zip(b.embedding, c.cent_emb),
        |                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
        |               / (b.norm * c.cent_norm), 6) AS ccos
        |  FROM base b, cents c),
        |assign AS (
        |  SELECT vec_id, cent_id AS cluster_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY ccos DESC, cent_id) AS ar FROM cc)
        |  WHERE ar = 1),
        |m AS (
        |  SELECT a.cluster_id,
        |         unnest(b.embedding) AS v,
        |         unnest(range(0, len(b.embedding))) AS dim
        |  FROM base b JOIN assign a USING (vec_id))
        |SELECT cluster_id, CAST(dim AS BIGINT) AS dim,
        |       count(*) AS n_members,
        |       CAST(CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6)))
        |              * 1000000 AS BIGINT) // count(*) AS BIGINT)
        |         AS centroid_u
        |FROM m GROUP BY cluster_id, dim
        |ORDER BY cluster_id, dim""".stripMargin,
    "q_ann_recall" ->
      """WITH base AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_reduce(list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, v) -> a + v)) AS norm
        |  FROM embeddings),
        |truth AS (
        |  SELECT qid, cid FROM (
        |    SELECT q.vec_id AS qid, c.vec_id AS cid,
        |           round(list_reduce(list_transform(list_zip(q.embedding, c.embedding),
        |                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
        |                 / (q.norm * c.norm), 6) AS cos
        |    FROM base q, base c WHERE q.vec_id < 20 AND q.vec_id != c.vec_id)
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) <= 3),
        |cents AS (
        |  SELECT vec_id AS cent_id, embedding AS cent_emb, norm AS cent_norm
        |  FROM base WHERE vec_id < 16),
        |cc AS (
        |  SELECT b.vec_id, c.cent_id,
        |         round(list_reduce(list_transform(list_zip(b.embedding, c.cent_emb),
        |                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
        |               / (b.norm * c.cent_norm), 6) AS ccos
        |  FROM base b, cents c),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY ccos DESC, cent_id) AS ar FROM cc),
        |assign AS (SELECT vec_id, cent_id AS cluster_id FROM ranked WHERE ar = 1),
        |clustered AS (
        |  SELECT b.vec_id, b.embedding, b.norm, a.cluster_id
        |  FROM base b JOIN assign a USING (vec_id)),
        |ivf AS (
        |  SELECT qid, cid, 1 AS hit_i FROM (
        |    SELECT q.vec_id AS qid, c.vec_id AS cid,
        |           round(list_reduce(list_transform(list_zip(q.embedding, c.embedding),
        |                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
        |                 / (q.norm * c.norm), 6) AS cos
        |    FROM clustered q JOIN clustered c ON q.cluster_id = c.cluster_id
        |    WHERE q.vec_id < 20 AND q.vec_id != c.vec_id)
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) <= 3),
        |probes AS (SELECT vec_id AS qid, cent_id AS cluster_id
        |           FROM ranked WHERE ar <= 2 AND vec_id < 20),
        |mp AS (
        |  SELECT qid, cid, 1 AS hit_m FROM (
        |    SELECT DISTINCT p.qid, c.vec_id AS cid,
        |           round(list_reduce(list_transform(list_zip(q.embedding, c.embedding),
        |                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, v) -> a + v)
        |                 / (q.norm * c.norm), 6) AS cos
        |    FROM probes p
        |    JOIN base q ON q.vec_id = p.qid
        |    JOIN clustered c ON c.cluster_id = p.cluster_id
        |    WHERE p.qid != c.vec_id)
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) <= 3)
        |SELECT t.qid, count(i.hit_i) AS n_hit_ivf,
        |       round(CAST(count(i.hit_i) AS DOUBLE) / CAST(3 AS DOUBLE), 6)
        |         AS recall_ivf,
        |       count(m.hit_m) AS n_hit_mp,
        |       round(CAST(count(m.hit_m) AS DOUBLE) / CAST(3 AS DOUBLE), 6)
        |         AS recall_mp
        |FROM truth t
        |LEFT JOIN ivf i ON i.qid = t.qid AND i.cid = t.cid
        |LEFT JOIN mp m ON m.qid = t.qid AND m.cid = t.cid
        |GROUP BY t.qid
        |ORDER BY t.qid""".stripMargin,
    "q_embedding_quantize" ->
      """WITH q AS (
        |  SELECT vec_id, embedding,
        |         CAST(list_min(embedding) AS DOUBLE) AS qmin,
        |         CAST(list_max(embedding) AS DOUBLE) AS qmax
        |  FROM embeddings),
        |s AS (SELECT *, greatest((qmax - qmin) / CAST(255.0 AS DOUBLE),
        |                         CAST(1e-12 AS DOUBLE)) AS scale FROM q),
        |c AS (
        |  SELECT *, list_transform(embedding,
        |    x -> CAST(round((CAST(x AS DOUBLE) - qmin) / scale) AS BIGINT)) AS codes
        |  FROM s)
        |SELECT vec_id, round(qmin, 6) AS qmin_r, round(qmax, 6) AS qmax_r,
        |       CAST(list_sum(codes) AS BIGINT) AS code_sum,
        |       round(list_max(list_transform(list_zip(embedding, codes),
        |         x -> abs(CAST(x[1] AS DOUBLE) - (qmin + x[2] * scale)))), 6) AS max_recon_err
        |FROM c ORDER BY vec_id""".stripMargin,
    "q_multimodal_binary" ->
      ("""SELECT doc_id,
        |       'text/plain' AS mime,
        |       lang,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       upper(substring(hex(encode(text)), 1, 16)) AS head_hex,
        |       """ + phDuck.format("text") + """ % 1000 AS stub_feature
        |FROM documents ORDER BY doc_id""").stripMargin)
}
