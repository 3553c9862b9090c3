package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{expressions => F}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over `embeddings` (SURVEY §2.E).
  *
  * E1 (brute force) is the correctness baseline and the oracle anchor:
  * broadcast the query set, scan the corpus once, native CosineSim in
  * whole-stage codegen, per-query top-k via window rank. At 100 TB the
  * corpus scan is embarrassingly parallel (no shuffle before the final
  * tiny top-k exchange) but reads everything — that's what E2/E3 prune.
  *
  * E2 (SRP-LSH) buckets the corpus into 16 tables of 8-bit seeded
  * signed-random-projection signatures; a query searches, per table,
  * every bucket within hamming radius 2 of its own (multiprobe). E3
  * (IVF) assigns each vector to its nearest of 16 deterministic
  * centroids; a query searches its nProbe=12 nearest lists. Both cut
  * the scanned fraction to buckets/probes over total — the 100 TB
  * path — and are recall-≥0.9-checked against E1 by spec.
  */
object Similarity {

  private[graft] val K = 5
  private[graft] val NQueries = 10
  private val LshTables = 16  // L independent hash tables of LshBits each,
  private val LshBits = 8     // carved from ceil(L*B/64) seeded SRP sigs
  private val LshProbeRadius = 2 // probe all buckets within hamming ≤ r
  private[graft] val NCentroids = 16
  // Probe count is the IVF recall/scan dial and is DATA-dependent: the
  // synthetic embeddings carry no cluster structure (measured recall ≈
  // scan fraction + ~0.1 across nCent ∈ {10,16} at both SFs — nearest
  // neighbors spread uniformly over balanced lists), so holding the
  // ≥0.9 recall contract here costs nProbe=12/16 = 75% scan. On real
  // clustered corpora the same balanced-list machinery reaches the
  // contract at nProbe ≪ nLists; a deployment tunes this constant.
  private[graft] val NProbe = 12
  // k-means refinement passes. IVF stops at ONE: more passes tighten
  // the partition boundaries, which at fixed nProbe strictly LOWERS
  // recall (measured at sf0.001: 0.92 @ iters=1 vs 0.86 @ iters=2 at
  // nProbe=8) — probe count, not codebook tightness, is the IVF recall
  // dial. PQ runs three: its ADC error falls monotonically with
  // quantizer tightness (no probe tradeoff exists there).
  private val IvfLloydIters = 1
  private val PqLloydIters = 3

  /** Shared DuckDB cosine: strict left-fold in double — bit-identical
    * to graft.functions.CosineSim (SURVEY §5).
    */
  private[queries] def cosSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(list_zip($a, $b),
       |                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
       |    (x, y) -> x + y)
       | / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (x, y) -> x + y))
       |  * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
       |      (x, y) -> x + y)))""".stripMargin

  // private[graft]: the streaming maintenance twins' post-drain probes
  // (A61) build on the same query frame
  private[graft] def queriesDf(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))

  // --- Deterministic k-means++-style codebook seeding ---------------------
  // Head-of-corpus seeds ("first k vectors") are deterministic but
  // degenerate when the head is homogeneous — several seeds collapse
  // into one effective centroid and recall sags. Farthest-point
  // (maxmin) seeding on a fingerprint-keyed sample keeps determinism
  // (fingerprint64 order is a fixed pseudo-random shuffle; ties break
  // on sample order) and spreads seeds across the data. Sample-then-
  // train is also the 100 TB path: codebooks train on a bounded sample
  // (one small collect), never on the full corpus.
  private val SeedSampleN = 1024

  /** Fingerprint64-ordered deterministic sample of non-degenerate
    * embeddings: (vec_id, vector), smallest fingerprint keys first.
    */
  private def seedSample(s: SparkSession, d: String): IndexedSeq[Array[Float]] =
    Tables.embeddings(s, d)
      .withColumn("nrm", F.l2norm(col("embedding")))
      .filter(col("nrm") > 0)
      .select(col("embedding"),
        graft.functions.expressions.fingerprint64(
          col("vec_id").cast("string")).as("fp"), col("vec_id"))
      .orderBy(col("fp"), col("vec_id"))
      .limit(SeedSampleN) // bounds the collect below
      .collect()
      .map(_.getSeq[Float](0).toArray).toIndexedSeq

  /** splitmix64 — the standard 64-bit mix; gives a FIXED pseudo-random
    * sequence for the seeded k-means++ draws below (Date.now/
    * Math.random-free: byte-identical across runs and executors).
    */
  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic k-means++ (Arthur & Vassilvitskii 2007) seed
    * selection: first seed = first sample point (fingerprint order),
    * each next seed drawn with probability ∝ D(x)² via the seeded
    * splitmix64 sequence. D²-weighted draws spread seeds across the
    * mass of the data — pure farthest-point maxmin over-picks
    * outliers (measured: IVF recall 0.98 → 0.70 at sf0.001), while
    * head-of-corpus seeds degenerate on homogeneous heads. O(n·k)
    * over the sample, fully deterministic.
    */
  private def kppSeeds(pts: IndexedSeq[Array[Float]], k: Int,
      dist: (Array[Float], Array[Float]) => Double): IndexedSeq[Array[Float]] = {
    val n = pts.length
    if (n == 0) return IndexedSeq.empty
    val chosen = scala.collection.mutable.ArrayBuffer(0)
    val taken = Array.fill(n)(false); taken(0) = true
    val minD = Array.fill(n)(Double.MaxValue)
    while (chosen.length < math.min(k, n)) {
      val last = pts(chosen.last)
      var total = 0.0
      var i = 0
      while (i < n) {
        val dd = dist(pts(i), last)
        if (dd < minD(i)) minD(i) = dd
        if (!taken(i)) total += minD(i)
        i += 1
      }
      // u ∈ [0,1) from the fixed sequence, keyed by the draw index
      val u = (splitmix64(chosen.length.toLong) >>> 11).toDouble / (1L << 53).toDouble
      var target = u * total
      var pick = -1
      i = 0
      while (i < n && pick < 0) {
        if (!taken(i)) {
          target -= minD(i)
          if (target <= 0) pick = i
        }
        i += 1
      }
      if (pick < 0) { // numeric tail (or all-zero D): last untaken point
        pick = (n - 1 to 0 by -1).find(!taken(_)).getOrElse(0)
      }
      chosen += pick; taken(pick) = true
    }
    chosen.map(pts).toIndexedSeq
  }

  private def cosDist(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    1.0 - dot / math.sqrt(na * nb)   // sample pre-filters zero norms
  }

  private def l2Dist2(a: Array[Float], b: Array[Float]): Double = {
    var s2 = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s2 += d * d; i += 1 }
    s2
  }

  /** Driver-side Lloyd refinement over the SAMPLE — the 100 TB
    * codebook-training design (FAISS-style): quantizers train on a
    * bounded sample, and the cluster only ever runs the one ENCODE
    * pass. Locally the sample covers the whole corpus (500 ≤ 1024
    * = SeedSampleN), so this equals corpus-side Lloyd. Ties pick the
    * lowest centroid id (the corpus formulation's orderBy tiebreak);
    * an emptied cluster keeps its seed instead of vanishing.
    */
  private def lloydRefine(pts: IndexedSeq[Array[Float]],
      seeds: IndexedSeq[Array[Float]], iters: Int,
      dist: (Array[Float], Array[Float]) => Double): IndexedSeq[Array[Float]] = {
    var cs = seeds
    if (pts.isEmpty || cs.isEmpty) return cs
    val dim = pts.head.length
    (1 to iters).foreach { _ =>
      val sums = Array.fill(cs.length)(new Array[Double](dim))
      val counts = new Array[Long](cs.length)
      pts.foreach { p =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cs.length) {
          val dd = dist(p, cs(c))
          if (dd < bd) { bd = dd; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
      }
      cs = cs.indices.map { c =>
        if (counts(c) == 0) cs(c)
        else sums(c).map(x => (x / counts(c)).toFloat)
      }.toIndexedSeq
    }
    cs
  }

  /** Rank candidate (query_id, vec_id, ea/qe) rows → top-K per query. */
  private def topK(cands: DataFrame): DataFrame =
    cands
      .withColumn("cosine", F.cosine_sim(col("qe"), col("ea")))
      // a zero-norm vector's NaN cosine would rank first (NaN sorts
      // above all numbers in Spark and DuckDB) — drop degenerates
      .filter(!isnan(col("cosine")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"))
      .orderBy(col("query_id"), col("rank"))

  // --- E1: brute-force top-k (oracled) ------------------------------------
  val bruteForce = QueryDef.oracled(
    "knn_bruteforce",
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
      |           FROM embeddings WHERE vec_id < $NQueries),
      |s AS (SELECT query_id, vec_id, ${cosSql("qe", "embedding")} AS cosine
      |      FROM q JOIN embeddings ON vec_id <> query_id),
      |sf AS (SELECT * FROM s WHERE NOT isnan(cosine)),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |               ORDER BY cosine DESC, vec_id) AS rank FROM sf)
      |SELECT query_id, rank, vec_id AS neighbor_id, cosine
      |FROM r WHERE rank <= $K ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val corpus = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("ea"))
    topK(broadcast(queriesDf(s, d))
      .join(corpus, col("vec_id") =!= col("query_id")))
  }

  // --- E20: k-NN majority-vote classification (round 12) -------------------
  // The evaluation primitive embedding pipelines run before trusting a
  // vector space: classify each query by the majority label of its k
  // exact nearest neighbors and compare to its own label — k-NN probe
  // accuracy. Composition: E1's brute-force top-k (the oracle-anchored
  // exact path — an eval harness must not inherit ANN recall error),
  // one label join, a ≤ k-row vote count per query, deterministic
  // argmax (votes DESC, then smallest label).
  //
  // Exactness: votes are integers; the winner is a row_number pick
  // under a total order; cosine ties inside top-k break on vec_id
  // (E1's contract) — engine-identical throughout.
  //
  // Scale (100 TB): identical to E1 — broadcast query set, map-only
  // corpus scan, per-query top-k via the window rank on k·|queries|
  // rows; the label join and vote rollup run on that tiny frame.
  val classify = QueryDef.oracled(
    "knn_classify",
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS tl
      |           FROM embeddings WHERE vec_id < $NQueries),
      |s AS (SELECT query_id, vec_id, label, ${cosSql("qe", "embedding")} AS cosine
      |      FROM q JOIN embeddings ON vec_id <> query_id),
      |sf AS (SELECT * FROM s WHERE NOT isnan(cosine)),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |               ORDER BY cosine DESC, vec_id) AS rank FROM sf),
      |v AS (SELECT query_id, label, count(*) AS n_votes
      |      FROM r WHERE rank <= $K GROUP BY 1, 2),
      |p AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |               ORDER BY n_votes DESC, label) AS vr FROM v)
      |SELECT q.query_id, q.tl AS true_label, p.label AS pred_label,
      |  p.n_votes, (p.label = q.tl) AS correct
      |FROM p JOIN q USING (query_id) WHERE p.vr = 1
      |ORDER BY q.query_id""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val corpus = emb.select(col("vec_id"), col("embedding").as("ea"))
    val nn = topK(broadcast(queriesDf(s, d))
      .join(corpus, col("vec_id") =!= col("query_id")))
    val votes = nn
      .join(emb.select(col("vec_id").as("neighbor_id"), col("label")),
        Seq("neighbor_id"))
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("vr", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("n_votes").desc, col("label"))))
      .filter(col("vr") === 1)
    votes
      .join(broadcast(emb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("label").as("true_label"))),
        Seq("query_id"))
      .select(col("query_id"), col("true_label"),
        col("label").as("pred_label"), col("n_votes"),
        (col("label") === col("true_label")).as("correct"))
      .orderBy(col("query_id"))
  }

  // --- E22: reciprocal nearest neighbors (round 12) -------------------------
  // The mutual-NN verification primitive (re-ID / RNN clustering /
  // Qin et al. CVPR'11 k-reciprocal re-ranking): (q, n) is a RELIABLE
  // match only if n is in q's top-k AND q is in n's top-k — one-sided
  // neighbors are hubness artifacts (a vector near the centroid sits
  // in everyone's top-k without reciprocating). Two-hop exact
  // composition, no n²: hop 1 is E1's broadcast-queries map-only scan;
  // hop 2 re-scans the corpus once for the ≤ k·|queries| DISTINCT
  // hop-1 neighbors (broadcast again). Both hops are exact, so the
  // output is oracled — an ANN-free reliability filter.
  //
  // Scale (100 TB): two map-only corpus scans with broadcast probe
  // sets; everything after is joins on k·|queries|-row frames. The
  // probe-set bound (k·|queries| vectors in hop 2) is the explicit
  // scale dial: batch sizes of queries come from slicing, never from
  // widening a single broadcast.
  val reciprocal = QueryDef.oracled(
    "knn_reciprocal",
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
      |           FROM embeddings WHERE vec_id < $NQueries),
      |s AS (SELECT query_id, vec_id, ${cosSql("qe", "embedding")} AS cosine
      |      FROM q JOIN embeddings ON vec_id <> query_id),
      |sf AS (SELECT * FROM s WHERE NOT isnan(cosine)),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |               ORDER BY cosine DESC, vec_id) AS rank FROM sf),
      |nn AS (SELECT query_id, vec_id AS neighbor_id, rank, cosine
      |       FROM r WHERE rank <= $K),
      |nb AS (SELECT DISTINCT neighbor_id FROM nn),
      |nq AS (SELECT e.vec_id AS nid, e.embedding AS ne
      |       FROM embeddings e JOIN nb ON e.vec_id = nb.neighbor_id),
      |s2 AS (SELECT nid, vec_id, ${cosSql("ne", "embedding")} AS cosine
      |       FROM nq JOIN embeddings ON vec_id <> nid),
      |sf2 AS (SELECT * FROM s2 WHERE NOT isnan(cosine)),
      |r2 AS (SELECT nid, vec_id, row_number() OVER (PARTITION BY nid
      |               ORDER BY cosine DESC, vec_id) AS rank2 FROM sf2)
      |SELECT nn.query_id, nn.neighbor_id, nn.rank AS rank_qn,
      |  r2.rank2 AS rank_nq, nn.cosine
      |FROM nn JOIN r2 ON r2.nid = nn.neighbor_id AND r2.vec_id = nn.query_id
      |WHERE r2.rank2 <= $K
      |ORDER BY nn.query_id, nn.rank""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val corpus = emb.select(col("vec_id"), col("embedding").as("ea"))
    val nn = topK(broadcast(queriesDf(s, d))
        .join(corpus, col("vec_id") =!= col("query_id")))
      .localCheckpoint() // ≤ k·|queries| rows; output + reverse-probe sides
    val nbrVecs = emb
      .join(broadcast(nn.select(col("neighbor_id")).distinct()),
        col("vec_id") === col("neighbor_id"))
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val rev = topK(broadcast(nbrVecs)
        .join(corpus, col("vec_id") =!= col("query_id")))
      .select(col("query_id").as("nid"), col("neighbor_id").as("back_id"),
        col("rank").as("rank_nq"))
    nn.join(rev,
        rev("nid") === nn("neighbor_id") && rev("back_id") === nn("query_id"))
      .select(nn("query_id"), nn("neighbor_id"),
        nn("rank").as("rank_qn"), rev("rank_nq"), nn("cosine"))
      .orderBy(col("query_id"), col("rank_qn"))
  }

  // --- E2: SRP-LSH bucketed search (recall-checked vs E1 by spec) ---------
  // L=16 tables × B=8 bits carved from two seeded 64-bit SRP
  // signatures; a query probes, per table, every bucket within hamming
  // radius r=2 of its own (1 + 8 + 28 = 37 probes/table) — multiprobe
  // LSH (Lv et al. VLDB'07) buys recall without extra tables.
  // Candidates = union over tables; recall ≥ 0.9 asserted by spec —
  // the standard recall/cost dial (Gionis/Indyk/Motwani VLDB'99):
  // more tables or probes → higher recall, more of the corpus touched.
  val lsh = QueryDef.rowsOnly("knn_lsh") { (s, d) =>
    val mask = (1 << LshBits) - 1
    // bit carving is the shared F.srpSigsArray/srpBandExpr contract
    val corpus = Tables.embeddings(s, d)
      .withColumn("sigs", F.srpSigsArray(col("embedding"), LshTables, LshBits))
      .select(col("vec_id"),
        explode(expr(F.srpBandBucketsExpr("sigs", LshTables, LshBits)))
          .as("bucket"))
    // all XOR masks of hamming weight ≤ r over LshBits bits,
    // precomputed driver-side (37 ints for B=8, r=2)
    val probeMasks = (0 until (1 << LshBits))
      .filter(m => Integer.bitCount(m) <= LshProbeRadius)
    val probes = queriesDf(s, d)
      .withColumn("sigs", F.srpSigsArray(col("qe"), LshTables, LshBits))
      .select(col("query_id"), col("qe"), explode(expr(
        s"""flatten(transform(sequence(0, ${LshTables - 1}), t ->
           |  transform(array(${probeMasks.mkString(",")}),
           |    m -> t * ${mask + 1} + (${F.srpBandExpr("sigs", "t", LshBits)} ^ m))))""".stripMargin))
        .as("bucket"))
    // probe rows join the bucketed corpus on the int bucket key; the
    // corpus side carries only (vec_id, bucket) — vectors are fetched
    // after dedup so the 37× probe fan-out never amplifies vector bytes
    val cand = broadcast(probes.select(col("query_id"), col("bucket")))
      .join(corpus, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    topK(cand
      .join(queriesDf(s, d), Seq("query_id"))
      .join(Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("ea")), Seq("vec_id")))
  }

  // --- E3: IVF, sample-trained quantizer (recall-checked vs E1) -----------
  // Seeds = deterministic k-means++ D²-draw selection over the
  // fingerprint-keyed sample (cosine distance — the metric the lists
  // partition), refined by driver-side Lloyd on the same sample
  // (lloydRefine — training is sample-bounded, the 100 TB design).
  // Lists and probes then use the refined centroids; the corpus is
  // scanned exactly once, for list assignment.
  val ivf = QueryDef.rowsOnly("knn_ivf") { (s, d) => ivfFrame(s, d, NProbe) }

  /** The IVF pipeline with the probe count exposed — the recall/scan
    * dial a deployment tunes. The registered query runs NProbe; the
    * planted-cluster spec runs nProbe=4/16 on a CLUSTERED table to pin
    * that the machinery actually prunes when structure exists (on the
    * structureless synthetic corpus recall ≈ scan fraction, the honest
    * note above).
    */
  /** Staged IVF inverted lists — (cid, vec_id, ea): the corpus encoded
    * into its list assignment, the FAISS-IVF index artifact proper
    * (round 14; previously re-assigned inline per call). Build is the
    * one corpus ENCODE pass — a map-side argmax against the literal
    * trained codebook (the encode pass is a per-row pure function —
    * round 8 crossJoined the corpus 16× and ranked through a window;
    * same assignment incl. the lowest-cid tie/NaN resolution, zero
    * shuffle). Shared by batch E3/E11-probing and the A57 streaming
    * probe; with the index dir set it persists like the PQ codes.
    */
  private[graft] def ivfLists(s: SparkSession, d: String): DataFrame =
    // PARTITIONED BY cid (round 17): one hive partition per inverted
    // list, so the broadcast probe joins on cid read ONLY the probed
    // lists via dynamic partition pruning — IO ∝ nProbe/nLists of the
    // corpus, the point of IVF at 100 TB (previously the scan was full
    // and the pruning compute-only).
    graft.FrameCache.getOrPersistLayout(s, s"sim.ivf.lists:$d",
      graft.FrameCache.Layout(partitionCols = Seq("cid"))) {
      val refined = trainedCentroids(s, d)
      Tables.spread(Tables.embeddings(s, d), s, "vec_id")
        .withColumn("cid", F.argmax_cos(col("embedding"),
          typedlit(refined.map(_.toSeq))).cast("long"))
        .select(col("cid"), col("vec_id"), col("embedding").as("ea"))
    }

  private[graft] def ivfFrame(s: SparkSession, d: String,
      nProbe: Int): DataFrame =
    ivfProbeWith(s, d, ivfLists(s, d), nProbe)

  /** The IVF probe against an ARBITRARY (cid, vec_id, ea) lists frame —
    * factored out (the ivfPqProbeWith precedent) so the A60 incremental
    * index-maintenance twin can probe its freshly-merged lists table
    * through the exact plan knn_ivf runs.
    */
  private[graft] def ivfProbeWith(s: SparkSession, d: String,
      lists: DataFrame, nProbe: Int): DataFrame = {
    // train on the sample, driver-side (shared trainedCentroids —
    // k-means++ seeds + Lloyd, memoized per dir). The cluster never
    // scans the corpus for training; the one list-assignment encode
    // pass lives in the staged ivfLists artifact.
    val refined = trainedCentroids(s, d)
    val centroids = {
      import s.implicits._
      broadcast(refined.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }.toDF("cid", "ce"))
    }
    // query → nProbe nearest lists. The probe set is CUT (localCheckpoint
    // — |queries| × nProbe rows, the FAISS "send the probe list" step),
    // then the DISTINCT probed cids — bounded by nLists, never the
    // corpus — are collected and pushed as a LITERAL isin partition
    // filter on the lists scan. Round 17 achieved the pruning through
    // dynamic partition pruning (checkpoint cut + a trivially-true
    // predicate to satisfy the DPP rule's heuristics); round 18
    // replaces it with static literal pruning because it is GUARANTEED
    // — planner-heuristic-independent, and it still fires where DPP
    // cannot: inside micro-batch streaming plans (AQE off, no stream
    // stats) and through the union a manifest delta-generation read
    // resolves to (a static filter pushes through Union; the DPP rule
    // does not traverse it). Files read ∝ probed lists either way —
    // the IVF contract, spec-pinned via post-execution scan metrics.
    val probes = queriesDf(s, d).crossJoin(centroids)
      .withColumn("csim", F.cosine_sim(col("qe"), col("ce")))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("cid"))))
      .filter(col("crk") <= nProbe)
      .select(col("query_id"), col("qe"), col("cid"))
      .localCheckpoint()
    // a FrameCache memo per (corpus, nProbe): the probed union is a
    // pure function of the registered query set and the trained
    // codebook — lists-INDEPENDENT — so repeat probe plans (recall
    // report, sweeps, bench reruns) skip the collect job
    val probedCids = graft.FrameCache.memo(s, s"sim.ivf.probed:$d:$nProbe") {
      cidUnion(probes.select(col("cid")))
    }
    topK(broadcast(probes)
      .join(lists.filter(col("cid").isin(probedCids: _*)), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qe"), col("vec_id"), col("ea")))
  }

  /** The sorted distinct list ids of a one-column frame, collected
    * under the [[NCentroids]] cap (a probed-list union has no more).
    */
  private def cidUnion(ids: DataFrame): IndexedSeq[Long] =
    graft.queries.Analytics.boundedDriverCollect(ids.distinct(), NCentroids,
      "probed-list union").map(_.get(0).asInstanceOf[Number].longValue())
      .toIndexedSeq.sorted

  /** The DISTINCT probed-cid union the [[ivfProbeWith]] ranking
    * produces for the registered query set — recomputed through the
    * SAME (cosine desc, cid asc) window the probe plan runs; the
    * pruning specs compare partitions-read scan metrics against it.
    */
  private[graft] def probedCidUnion(s: SparkSession, d: String,
      nProbe: Int): Set[Long] = {
    import s.implicits._
    val centroids = trainedCentroids(s, d).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }.toDF("cid", "ce")
    cidUnion(queriesDf(s, d).crossJoin(centroids)
      .withColumn("csim", F.cosine_sim(col("qe"), col("ce")))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("cid"))))
      .filter(col("crk") <= nProbe)
      .select(col("cid"))).toSet
  }

  // --- E4: per-label centroids (custom TypedImperativeAggregate) ----------
  // vector_avg ships one (count, sums) buffer per group per partition
  // through the shuffle — the map-side-combined centroid computation a
  // k-means/IVF refinement loop runs every iteration. Spec-checked
  // against a driver-side average (on the raw array form below).
  /** Raw centroid frame with the `centroid` array column — the library
    * surface and the spec subject. The driver-facing query projects it
    * to scalars because the harness canonicalizer cannot sort array
    * cells.
    */
  def centroidsRaw(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .groupBy(col("label"))
      .agg(graft.functions.VectorAvgAgg.vector_avg(col("embedding"))
        .as("centroid"),
        count(lit(1)).as("n_vectors"))

  // Scalar-only driver projection, fully integerized: micro-unit BIGINT
  // norm and an md5 over micro-unit BIGINT coordinates sidestep every
  // float→string formatting divergence between engines. The
  // element-wise means compare bit-exact because float addends round
  // exactly in double accumulators WHILE the running sum stays within
  // 2²⁹ of the addend's exponent (true for this well-scaled synthetic
  // distribution; a corpus with ~1e-9 coordinates among O(1) values
  // could round order-dependently) — and the micro-unit rounding
  // additionally absorbs sub-1e-6 noise away from bucket boundaries.
  val centroids = QueryDef.oracled(
    "embedding_centroids",
    """WITH u AS (
      |  SELECT label, unnest(embedding) AS x,
      |         generate_subscripts(embedding, 1) AS ord
      |  FROM embeddings),
      |m AS (SELECT label, ord, sum(CAST(x AS DOUBLE)) / count(*) AS c
      |      FROM u GROUP BY 1, 2),
      |g AS (SELECT label, list(c ORDER BY ord) AS centroid FROM m GROUP BY label),
      |n AS (SELECT label, count(*) AS n_vectors FROM embeddings GROUP BY label)
      |SELECT n.label, n.n_vectors,
      |  CAST(len(g.centroid) AS BIGINT) AS dim,
      |  CAST(round(sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(g.centroid, x -> x * x)), (a, b) -> a + b)) * 1000000) AS BIGINT) AS norm_micro,
      |  md5(array_to_string(list_transform(g.centroid,
      |      x -> CAST(CAST(round(x * 1000000) AS BIGINT) AS VARCHAR)), ',')) AS centroid_digest
      |FROM n JOIN g ON n.label = g.label
      |ORDER BY n.label""".stripMargin) { (s, d) =>
    centroidsRaw(s, d)
      .select(col("label"), col("n_vectors"),
        size(col("centroid")).cast("bigint").as("dim"),
        expr("""CAST(round(sqrt(aggregate(centroid, CAST(0 AS DOUBLE),
                  (acc, x) -> acc + x * x)) * 1000000) AS BIGINT)""")
          .as("norm_micro"),
        md5(concat_ws(",",
          expr("transform(centroid, x -> CAST(CAST(round(x * 1000000) AS BIGINT) AS STRING))")))
          .as("centroid_digest"))
      .orderBy(col("label"))
  }

  // --- E21: label-affinity matrix over centroids (round 12) -----------------
  // E20's eval sibling at the class level: the cosine between every
  // pair of LABEL CENTROIDS — the separation report that says whether
  // the embedding space keeps classes apart at all (near-1.0
  // off-diagonal affinities = k-NN probes can't work, retrain).
  // Rides E4's centroid computation (vector_avg — map-side-combined
  // buffers), localCheckpointed so the pair self-join reads the
  // |labels|-row materialization instead of re-aggregating the corpus
  // twice; the |labels|² pair grid is driver-trivial. cos_micro is the
  // E4 micro-unit BIGINT idiom (sidesteps float→string formatting;
  // the strict double fold is bit-identical in both engines per E4's
  // exactness argument, and micro-rounding absorbs sub-1e-6 noise).
  val labelAffinity = QueryDef.oracled(
    "embedding_label_affinity",
    s"""WITH u AS (
      |  SELECT label, unnest(embedding) AS x,
      |         generate_subscripts(embedding, 1) AS ord
      |  FROM embeddings),
      |m AS (SELECT label, ord, sum(CAST(x AS DOUBLE)) / count(*) AS c
      |      FROM u GROUP BY 1, 2),
      |g AS (SELECT label, list(c ORDER BY ord) AS centroid FROM m GROUP BY label),
      |n AS (SELECT label, count(*) AS n_vectors FROM embeddings GROUP BY label),
      |p AS (SELECT a.label AS label_a, b.label AS label_b,
      |        ${cosSql("a.centroid", "b.centroid")} AS cos
      |      FROM g a JOIN g b ON a.label < b.label)
      |SELECT p.label_a, p.label_b,
      |  na.n_vectors AS n_a, nb.n_vectors AS n_b,
      |  CAST(round(p.cos * 1000000) AS BIGINT) AS cos_micro
      |FROM p JOIN n na ON na.label = p.label_a
      |       JOIN n nb ON nb.label = p.label_b
      |WHERE NOT isnan(p.cos)
      |ORDER BY label_a, label_b""".stripMargin) { (s, d) =>
    val c = centroidsRaw(s, d).localCheckpoint() // |labels| rows, 2 branches
    val a = c.select(col("label").as("label_a"), col("centroid").as("ca"),
      col("n_vectors").as("n_a"))
    val b = c.select(col("label").as("label_b"), col("centroid").as("cb"),
      col("n_vectors").as("n_b"))
    // centroids are array<double> — the strict HOF fold (not the
    // float-input CosineSim kernel), matching the oracle's list_reduce
    // op order exactly
    val cos = expr(
      """aggregate(zip_with(ca, cb, (x, y) -> x * y), CAST(0.0 AS DOUBLE),
        |  (acc, v) -> acc + v)
        |/ (sqrt(aggregate(ca, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x))
        | * sqrt(aggregate(cb, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)))""".stripMargin)
    a.join(b, col("label_a") < col("label_b"))
      .withColumn("cos", cos)
      .filter(!isnan(col("cos")))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        expr("CAST(round(cos * 1000000) AS BIGINT)").as("cos_micro"))
      .orderBy(col("label_a"), col("label_b"))
  }

  // --- E5: int8-quantized brute force (the memory/bandwidth dial) ---------
  // Corpus stored 4× smaller (array<tinyint>); scoring is pure integer
  // dot/norm accumulation (CosineSimI8). At 100 TB this is the
  // difference between an in-memory and a disk-bound corpus scan.
  // Scale 0.5 covers the synthetic embedding range (|x| ≲ 0.5);
  // recall vs the float baseline is spec-checked.
  private val QuantScale = 0.5f
  // Fully deterministic (fixed-scale float rounding + integer
  // accumulation), so the whole kernel replays in DuckDB: the scaled
  // value is computed with every intermediate held in FLOAT (DuckDB
  // FLOAT arithmetic matches IEEE single-precision op-for-op,
  // mirroring quantizeI8's float multiply/divide), then rounded
  // half-up in DOUBLE — Java 7+ Math.round(float) semantics
  // (JDK-6430675): floor(f + 0.5) with the addition EXACT, which a
  // double addition of a float and 0.5 is. Holding the + 0.5 in FLOAT
  // (pre-Java-7 semantics) disagrees by 1 for floats one ulp below
  // n + 0.5 — see the boundary spec in SimilaritySpec. The clamp is
  // greatest/least and the scoring is exact BIGINT dot/norm folds with
  // one double division — bit-identical to HashImpl.quantizeI8/cosineII.
  private val quantizedOracleSql: String = {
    val qz = s"""list_transform(embedding, x ->
      |    GREATEST(-127, LEAST(127, CAST(floor(
      |      CAST(CAST(CAST(CAST(x AS FLOAT) * CAST(127 AS FLOAT) AS FLOAT)
      |           / CAST($QuantScale AS FLOAT) AS FLOAT) AS DOUBLE)
      |      + 0.5) AS BIGINT))))""".stripMargin
    s"""WITH qz AS (SELECT vec_id, $qz AS qv FROM embeddings),
      |q AS (SELECT vec_id AS query_id, qv AS qq FROM qz WHERE vec_id < $NQueries),
      |p AS (
      |  SELECT q.query_id, c.vec_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(list_zip(q.qq, c.qv), x -> x[1] * x[2])), (a,b) -> a + b) AS dot,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(q.qq, x -> x * x)), (a,b) -> a + b) AS na,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(c.qv, x -> x * x)), (a,b) -> a + b) AS nb
      |  FROM q JOIN qz c ON c.vec_id <> q.query_id),
      |s AS (SELECT query_id, vec_id,
      |        CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cosine
      |      FROM p),
      |sf AS (SELECT * FROM s WHERE NOT isnan(cosine)),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |               ORDER BY cosine DESC, vec_id) AS rank FROM sf)
      |SELECT query_id, rank, vec_id AS neighbor_id, cosine
      |FROM r WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }
  val quantized = QueryDef.oracled("knn_quantized", quantizedOracleSql) { (s, d) =>
    val corpus = Tables.embeddings(s, d)
      .select(col("vec_id"), F.quantize_i8(col("embedding"), QuantScale).as("qa"))
    val qs = Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"),
        F.quantize_i8(col("embedding"), QuantScale).as("qq"))
    broadcast(qs).join(corpus, col("vec_id") =!= col("query_id"))
      .withColumn("cosine", F.cosine_sim_i8(col("qq"), col("qa")))
      .filter(!isnan(col("cosine")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  // --- E6: near-identical user activity profiles (behavioral twins) ------
  // Similarity search over DERIVED features: each user's 24-dim
  // hour-of-day activity histogram (exact integer counts, float-exact
  // below 2²⁴), pairs with cosine ≥ 0.9 — the bot/sockpuppet-detection
  // shape. All-positive count profiles make the background DENSE
  // (median pair cosine ≈ 0.75 — everyone is awake in the daytime)
  // and nearly ISOTROPIC (top second-moment eigenvalue after the mean
  // direction carries < 8% of variance), which defeats every
  // enumeration-level pruning we measured at sf0.01: SRP bands sized
  // to not miss τ=0.9 still pass > 99% of pairs, per-coordinate /
  // pivot window joins pass 100% (any 1-Lipschitz scalar's spread
  // ≈ 0.3 < the τ=0.9 distance threshold √0.2 ≈ 0.447), and k-means
  // triangle-inequality cell pruning passes ≥ 95%. Pair ENUMERATION
  // is therefore honestly quadratic — as is the OUTPUT itself on this
  // background (0.25% of all pairs qualify) — and the block grid
  // spreads it evenly with bounded per-task memory.
  //
  // What CAN be cut exactly is the heavy per-pair work: a Cauchy-
  // Schwarz upper bound on a k-dim orthonormal projection,
  //   cos(a,b) = ⟨Pa,Pb⟩ + ⟨ra,rb⟩ ≤ ⟨Pa,Pb⟩ + ‖ra‖·‖rb‖,
  // prunes 86% of pairs at sf0.01 (k=12) from full-vector scoring
  // and, being a bound, provably never drops a qualifying pair. The
  // basis is the top-k eigenvectors of the corpus second-moment
  // (Gram) matrix: one distributed vector_avg aggregation over
  // per-row outer products (24×24 doubles — a constant-size result),
  // eigendecomposed on the driver by a deterministic cyclic Jacobi
  // sweep. The grid shuffle then carries only (user_id, 12-float
  // projection, residual norm) — half the profile bytes — and the 14%
  // survivors re-fetch raw profiles by equi-join for exact scoring.
  private val ActTau = 0.9
  private val ActPcaK = 12
  // fp safety margin on the bound: float projections/dots round at
  // ~1e-6; a pair is only ever EXTRA-evaluated by widening, never lost
  private val ActBoundMargin = 1e-4
  /** Grid width: smallest G whose G(G+1)/2 unordered block pairs cover
    * the session's shuffle parallelism (the dial a cluster deployment
    * turns via spark.sql.shuffle.partitions — 32 local → G=8).
    */
  private def actGrid(s: SparkSession): Int = {
    val sp = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    math.max(2, math.ceil((math.sqrt(8.0 * sp + 1) - 1) / 2).toInt)
  }

  /** Deterministic cyclic-Jacobi eigendecomposition of a symmetric
    * d×d matrix (fixed sweep order, fixed tolerance — same input,
    * same output, every run). Returns the top-k eigenvectors by
    * descending eigenvalue, rows unit-norm, mutually orthogonal to
    * ~1e-12 (the Cauchy-Schwarz bound needs orthonormality, which
    * Jacobi delivers by construction; eigenvalue ORDER only affects
    * pruning power, not correctness).
    */
  private[graft] def jacobiTopK(g: Array[Array[Double]], k: Int): Array[Array[Float]] = {
    val d = g.length
    val a = Array.tabulate(d, d)((i, j) => g(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-24) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off += apq * apq
          if (math.abs(apq) > 1e-15) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val sn = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - sn * aiq
              a(i)(q) = sn * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - sn * aqi
              a(q)(i) = sn * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - sn * viq
              v(i)(q) = sn * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (0 until d).sortBy(j => -a(j)(j)).take(k)
      .map(j => Array.tabulate(d)(i => v(i)(j).toFloat)).toArray
  }
  /** One (user_id, 24-float raw profile `p`, unit profile `x`) row per
    * user — tiny relative to the fact table; materialized once and fed
    * to the Gram pass, the projection pass, and both re-fetch sides
    * (four lazy copies would re-scan events 4×).
    */
  private[graft] def activityProfiles(s: SparkSession, d: String): DataFrame = {
    val counts = (0 until 24).map(h =>
      sum(when(hour(col("ts")) === h, 1).otherwise(0)).cast("float").as(s"c$h"))
    Tables.events(s, d).groupBy(col("user_id"))
      .agg(counts.head, counts.tail: _*)
      .select(col("user_id"),
        array((0 until 24).map(h => col(s"c$h")): _*).as("p"))
      .withColumn("nrm", F.l2norm(col("p")))
      .withColumn("x", expr("transform(p, v -> CAST(v / nrm AS FLOAT))"))
      .drop("nrm")
      .localCheckpoint()
  }

  /** Grid-enumerated pairs surviving the exact Cauchy-Schwarz bound —
    * the pre-full-cosine candidate set (spec-measured < 50% of all
    * pairs; 14% at sf0.01). `prof` must be [[activityProfiles]].
    */
  private[graft] def activityCandidatePairs(s: SparkSession, prof: DataFrame): DataFrame = {
    // second-moment (Gram) matrix: ONE distributed aggregation whose
    // result is a constant 24×24 doubles — the only driver collect
    val gram = prof
      .withColumn("xx", expr(
        "flatten(transform(x, a -> transform(x, b -> CAST(a * b AS FLOAT))))"))
      .agg(graft.functions.VectorAvgAgg.vector_avg(col("xx")).as("g"))
      .head().getSeq[Double](0)
    val basis = jacobiTopK(Array.tabulate(24, 24)((i, j) => gram(i * 24 + j)), ActPcaK)
    val feat = prof
      .withColumn("proj", array(
        basis.map(row => F.dot_product(col("x"), typedlit(row)).cast("float")): _*))
      // ‖r‖² = ⟨x,x⟩ − ⟨Px,Px⟩ (not 1 − ⟨Px,Px⟩: x is float-rounded,
      // so use its actual norm — keeps the bound valid to fp noise)
      .withColumn("resid", sqrt(greatest(lit(0.0),
        F.dot_product(col("x"), col("x")) - F.dot_product(col("proj"), col("proj")))))
      .select(col("user_id"), col("proj"), col("resid"))
    val grid = actGrid(s)
    import s.implicits._
    // the grid: one row per unordered group pair (gi ≤ gj)
    val gridPairs = (for { i <- 0 until grid; j <- i until grid }
      yield (i, j)).toDF("ga", "gb")
    val a = feat.select(col("user_id").as("user_a"), col("proj").as("proja"),
      col("resid").as("resida"),
      pmod(col("user_id"), lit(grid)).cast("int").as("ga"))
    val b = feat.select(col("user_id").as("user_b"), col("proj").as("projb"),
      col("resid").as("residb"),
      pmod(col("user_id"), lit(grid)).cast("int").as("gb"))
    a.join(broadcast(gridPairs), Seq("ga"))
      .join(b, Seq("gb"))
      // cross-group pairs appear exactly once (min group drives ga);
      // same-group pairs appear in both orders — keep one
      .filter(col("ga") < col("gb") || col("user_a") < col("user_b"))
      // cos(a,b) ≤ ⟨Pa,Pb⟩ + ‖ra‖‖rb‖: below τ−margin can't qualify
      .filter(F.dot_product(col("proja"), col("projb"))
        + col("resida") * col("residb") >= ActTau - ActBoundMargin)
      .select(col("user_a"), col("user_b"))
  }

  // --- E7: embedding quality filter — per-label centroid outliers ----------
  // The embedding-space analogue of text quality filtering: score every
  // vector by cosine to ITS OWN label centroid and flag the bottom 5%
  // per label — mislabeled / degenerate embeddings a curation pipeline
  // drops before training. Rank-based flagging (not an absolute τ) is
  // deliberate: it is scale-free and meaningful on any score
  // distribution (this synthetic corpus's labels are NOT cosine-
  // clustered — median own-centroid score ≈ 0.15 — and a τ would flag
  // everything or nothing).
  //
  // Bit-exactness: the centroid is integerized to micro-unit BIGINTs
  // (the E4 idiom — double accumulation of floats is exact here, and
  // micro-rounding absorbs sub-1e-6 noise), the vector likewise; the
  // score is an exact BIGINT dot/norm fold with one double division —
  // deterministic in both engines, so ranks can't straddle. Scale: one
  // vector_avg aggregate for centroids (map-side combined), broadcast
  // of the tiny (label → centroid) map, then a map-only scoring pass +
  // one per-label window — no pairwise work anywhere.
  private val OutlierFrac = 0.05
  val outliers = QueryDef.oracled(
    "embedding_outliers",
    s"""WITH u AS (SELECT label, unnest(embedding) AS x,
      |            generate_subscripts(embedding, 1) AS ord FROM embeddings),
      |m AS (SELECT label, ord,
      |        CAST(round(sum(CAST(x AS DOUBLE))/count(*)*1000000) AS BIGINT) AS c
      |      FROM u GROUP BY 1, 2),
      |cm AS (SELECT label, list(c ORDER BY ord) AS cm FROM m GROUP BY label),
      |vm AS (SELECT vec_id, label,
      |         list_transform(embedding,
      |           x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS vm
      |       FROM embeddings),
      |sc AS (SELECT vec_id, v.label,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(list_zip(v.vm, c.cm), x -> x[1]*x[2])), (a,b) -> a+b) AS DOUBLE)
      |  / (sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |       list_transform(v.vm, x -> x*x)), (a,b) -> a+b) AS DOUBLE))
      |   * sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |       list_transform(c.cm, x -> x*x)), (a,b) -> a+b) AS DOUBLE))) AS score
      |  FROM vm v JOIN cm c USING (label)),
      |r AS (SELECT *, row_number() OVER (PARTITION BY label
      |        ORDER BY score ASC NULLS FIRST, vec_id) AS rk,
      |        count(*) OVER (PARTITION BY label) AS n FROM sc)
      |SELECT vec_id, label, score,
      |  (rk <= CAST(floor(n * $OutlierFrac) AS BIGINT)) AS is_outlier
      |FROM r ORDER BY vec_id""".stripMargin) { (s, d) =>
    val cm = centroidsRaw(s, d).select(col("label"),
      expr("transform(centroid, x -> CAST(round(x * 1000000) AS BIGINT))")
        .as("cm"))
    val vm = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
        .as("vm"))
    val byLabel = Window.partitionBy(col("label"))
    vm.join(broadcast(cm), Seq("label"))
      .withColumn("score",
        expr("aggregate(zip_with(vm, cm, (a, b) -> a*b), 0L, (acc, x) -> acc + x)").cast("double")
          / (sqrt(expr("aggregate(transform(vm, x -> x*x), 0L, (acc, x) -> acc + x)").cast("double"))
           * sqrt(expr("aggregate(transform(cm, x -> x*x), 0L, (acc, x) -> acc + x)").cast("double"))))
      .withColumn("rk", row_number().over(
        byLabel.orderBy(col("score").asc_nulls_first, col("vec_id"))))
      .withColumn("n", count(lit(1)).over(byLabel))
      .select(col("vec_id"), col("label"), col("score"),
        (col("rk") <= floor(col("n") * OutlierFrac)).as("is_outlier"))
  }

  // --- E8: maximum-inner-product top-k (MIPS) -------------------------------
  // Recommender-retrieval scoring: rank by RAW dot product, not cosine
  // (norm carries signal — popularity/confidence — so normalizing is
  // wrong for MIPS). Same broadcast-query corpus-scan shape as E1; the
  // dot is the strict left-fold DotProduct kernel, mirrored by the
  // oracle's list_reduce fold. At 100 TB the scale path is the same
  // bucketed pruning as E2/E3 (MIPS reduces to cosine-LSH after the
  // standard norm-augmentation transform — one extra dimension).
  val maxip = QueryDef.oracled(
    "knn_maxip",
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
      |           FROM embeddings WHERE vec_id < $NQueries),
      |s AS (SELECT query_id, vec_id,
      |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |          list_transform(list_zip(qe, embedding),
      |            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
      |          (a, b) -> a + b) AS dot
      |      FROM q JOIN embeddings ON vec_id <> query_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |               ORDER BY dot DESC, vec_id) AS rank FROM s)
      |SELECT query_id, rank, vec_id AS neighbor_id, dot
      |FROM r WHERE rank <= $K ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val corpus = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("ea"))
    broadcast(queriesDf(s, d)).join(corpus, col("vec_id") =!= col("query_id"))
      .withColumn("dot", F.dot_product(col("qe"), col("ea")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("dot").desc, col("vec_id"))))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("dot"))
      .orderBy(col("query_id"), col("rank"))
  }

  // --- E9: LSH-bucketed MIPS (the scale path for E8) ------------------------
  // Norm-augmentation reduction (Neyshabur & Srebro, ICML'15
  // "SIMPLE-LSH"): with M = max corpus norm, map corpus x ->
  // [x/M ; sqrt(1 - |x|^2/M^2)] (unit norm) and query q -> [q/|q| ; 0];
  // then cos(q', x') = (q.x)/(|q| M), monotone in the inner product —
  // so E2's multiprobe SRP-LSH machinery solves MIPS unchanged on the
  // augmented vectors. M is one distributed max-aggregate (a single
  // driver scalar, like E6's Gram matrix); candidates re-fetch raw
  // vectors by equi-join and re-rank by EXACT dot, so output rows are
  // exact for every candidate found. Recall >= 0.9 vs E8 by spec —
  // augmented cosines compress toward 0 (the appended coordinate eats
  // norm), so this runs wider probes than E2: radius 3 over the same
  // 16 tables x 8 bits.
  private val MipsProbeRadius = 3
  val maxipLsh = QueryDef.rowsOnly("knn_maxip_lsh") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val m = emb.agg(max(F.l2norm(col("embedding"))).as("m"))
      .head().getDouble(0)
    require(m > 0, "degenerate corpus: all-zero embeddings")
    val corpus = emb
      .withColumn("nrm", F.l2norm(col("embedding")))
      .withColumn("aug", expr(
        s"""concat(transform(embedding, v -> CAST(v / ${m}d AS FLOAT)),
           |  array(CAST(sqrt(greatest(0d, 1d - (nrm*nrm)/${m * m}d)) AS FLOAT)))""".stripMargin))
      .withColumn("sigs", F.srpSigsArray(col("aug"), LshTables, LshBits))
      .select(col("vec_id"),
        explode(expr(F.srpBandBucketsExpr("sigs", LshTables, LshBits)))
          .as("bucket"))
    val mask = (1 << LshBits) - 1
    val probeMasks = (0 until (1 << LshBits))
      .filter(mm => Integer.bitCount(mm) <= MipsProbeRadius)
    val probes = queriesDf(s, d)
      .withColumn("qn", F.l2norm(col("qe")))
      .withColumn("aug", expr(
        "concat(transform(qe, v -> CAST(v / qn AS FLOAT)), array(CAST(0 AS FLOAT)))"))
      .withColumn("sigs", F.srpSigsArray(col("aug"), LshTables, LshBits))
      .select(col("query_id"), explode(expr(
        s"""flatten(transform(sequence(0, ${LshTables - 1}), t ->
           |  transform(array(${probeMasks.mkString(",")}),
           |    m -> t * ${mask + 1} + (${F.srpBandExpr("sigs", "t", LshBits)} ^ m))))""".stripMargin))
        .as("bucket"))
    val cand = broadcast(probes.select(col("query_id"), col("bucket")))
      .join(corpus, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
    cand
      .join(queriesDf(s, d), Seq("query_id"))
      .join(emb.select(col("vec_id"), col("embedding").as("ea")), Seq("vec_id"))
      .withColumn("dot", F.dot_product(col("qe"), col("ea")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("dot").desc, col("vec_id"))))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("dot"))
      .orderBy(col("query_id"), col("rank"))
  }

  val activityPairs = QueryDef.oracled(
    "user_activity_pairs",
    s"""WITH prof AS (
      |  SELECT user_id,
      |    [${(0 until 24).map(h =>
             s"CAST(count(*) FILTER (WHERE hour(ts) = $h) AS FLOAT)")
             .mkString(",\n      |     ")}] AS p
      |  FROM events GROUP BY user_id),
      |s AS (SELECT a.user_id AS user_a, b.user_id AS user_b,
      |        ${cosSql("a.p", "b.p")} AS cosine
      |      FROM prof a JOIN prof b ON a.user_id < b.user_id)
      |SELECT user_a, user_b, cosine FROM s
      |WHERE cosine >= $ActTau AND NOT isnan(cosine)
      |ORDER BY user_a, user_b""".stripMargin) { (s, d) =>
    val prof = activityProfiles(s, d)
    // survivors re-fetch raw profiles by equi-join (AQE broadcasts the
    // tiny sides locally; hash join at scale) — the grid shuffle never
    // carries the 24-float profiles, only (id, 12-float proj, resid)
    activityCandidatePairs(s, prof)
      .join(prof.select(col("user_id").as("user_a"), col("p").as("pa")), Seq("user_a"))
      .join(prof.select(col("user_id").as("user_b"), col("p").as("pb")), Seq("user_b"))
      .withColumn("cosine", F.cosine_sim(col("pa"), col("pb")))
      .filter(col("cosine") >= ActTau && !isnan(col("cosine")))
      // normalize to user_a < user_b (cosine is symmetric)
      .select(least(col("user_a"), col("user_b")).as("user_a"),
        greatest(col("user_a"), col("user_b")).as("user_b"),
        col("cosine"))
  }

  // --- E10: product quantization + ADC (the memory-bound scale path) -------
  // PQ (Jégou et al. TPAMI'11): split each L2-NORMALIZED corpus vector
  // into M=16 subvectors of 4 dims; per subspace, learn a 16-centroid
  // codebook (deterministic seeds = first 16 vectors' subvectors, one
  // Lloyd refinement via the map-side-combined vector_avg — the E3
  // recipe per subspace) and store each vector as 16 half-byte-capable codes: a
  // 16× compression of the scan (16 bytes vs 256 of float32). A query
  // scores by ADC: precompute the 16×16 table of (query-subvector ·
  // centroid) partial dots — broadcast-tiny — then a vector's
  // approximate dot is the sum of its 16 looked-up partials: the scan
  // touches ONLY the code columns + an equi-join on (subspace, code),
  // all codegen, no float vectors moved. Top PqRerank=128 ADC candidates
  // per query re-fetch raw vectors and re-rank by EXACT cosine, so
  // emitted rows are exact for every candidate found. Recall ≥ 0.9 vs
  // E1 by spec (approximate by contract, like E2/E3/E9).
  private val PqM = 16      // subspaces (64 dims / 4)
  private val PqSub = 4     // dims per subspace
  private val PqK = 16      // centroids per subspace codebook
  private val PqRerank = 128 // ADC candidates re-ranked exactly per query

  private def l2d(a: Column, b: Column): Column =
    F.dot_product(a, a) - lit(2.0) * F.dot_product(a, b) + F.dot_product(b, b)

  /** A staged codebook frame collected to the literal-array form the
    * map-side argmin encode consumes: Seq indexed [m][cid] → centroid.
    * Collect of a staged frame bounded by the codebook size (PqM × PqK
    * = 256 rows) — the FAISS "load the index header" step, run once
    * per encode-stage build.
    */
  private def bookAsArrays(book: DataFrame): Seq[Seq[Seq[Float]]] = {
    val rows = graft.queries.Analytics.boundedDriverCollect(
      book.select(col("m"), col("cid"), col("ce")), PqM * PqK, "PQ codebook")
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2)))
    rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)
  }

  /** The per-(session, dir) L2-normalized subvector frame. NOT staged:
    * read once per index build, which is itself staged.
    */
  private def pqSubvectors(s: SparkSession, d: String): DataFrame = {
    // normalize so ADC dot ranks by (approximate) cosine; zero-norm
    // degenerates drop here exactly as their NaN cosine drops in E1
    val xn = Tables.spread(Tables.embeddings(s, d), s, "vec_id")
      .withColumn("nrm", F.l2norm(col("embedding")))
      .filter(col("nrm") > 0)
      .withColumn("xn", expr("transform(embedding, x -> CAST(x / nrm AS FLOAT))"))
    xn.select(col("vec_id"), explode(expr(
      s"""transform(sequence(0, ${PqM - 1}),
         |  m -> struct(m AS m, slice(xn, m * $PqSub + 1, $PqSub) AS sv))"""
        .stripMargin)).as("p"))
      .select(col("vec_id"), col("p.m").as("m"), col("p.sv").as("sv"))
  }

  /** Trained PQ codebook (PqM × PqK rows), staged once per (session,
    * dir) — the index-BUILD artifact a production deployment writes
    * out once and queries many times. Per subspace: k-means++ D²-draw
    * seeds (L2, the metric PQ quantizes) over the fingerprint-keyed
    * sample's normalized subvectors, refined by driver-side Lloyd on
    * the same sample (lloydRefine). Training never scans the corpus —
    * only the ENCODE pass (pqCodes) does, once.
    */
  private[graft] def pqCodebook(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s, s"sim.pq.codebook:$d") {
      // normalize the sample exactly like pqSubvectors (x/nrm as float)
      // and slice per subspace, then train each subspace independently
      val sampleNorm = seedSample(s, d).map { v =>
        var n2 = 0.0; var i = 0
        while (i < v.length) { n2 += v(i).toDouble * v(i); i += 1 }
        val nrm = math.sqrt(n2)
        v.map(x => (x / nrm).toFloat)
      }
      val book = (0 until PqM).flatMap { m =>
        val subs = sampleNorm.map(_.slice(m * PqSub, (m + 1) * PqSub))
        lloydRefine(subs, kppSeeds(subs, PqK, l2Dist2),
          PqLloydIters, l2Dist2).zipWithIndex
          .map { case (sv, cid) => (m, cid, sv) }
      }
      import s.implicits._
      book.toDF("m", "cid", "ce")
    }

  /** Encoded corpus (vec_id, m, cid) — 16 bytes per vector at scale —
    * staged once per (session, dir) alongside its codebook. The code
    * assignment is a MAP-SIDE argmin against the literal codebook (one
    * native-kernel call per subvector row): the round-8 shape joined
    * every subvector with all 16 centroids and ranked per (vec, m)
    * through a window — a 16× row amplification plus a corpus-sized
    * shuffle in what is a per-row pure function. Same codes modulo
    * float rounding (Σ(x−c)² vs the expanded ‖x‖²−2x·c+‖c‖²), same
    * lowest-cid tiebreak.
    */
  private[graft] def pqCodes(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s, s"sim.pq.codes:$d") {
      val books = typedlit(bookAsArrays(pqCodebook(s, d)))
      pqSubvectors(s, d)
        .withColumn("cid",
          F.argmin_l2(col("sv"), element_at(books, col("m") + 1)))
        .select(col("vec_id"), col("m"), col("cid"))
    }

  // --- E11: IVFADC — coarse quantizer + residual PQ (Jégou et al.
  // TPAMI'11 §IV) — the composition FAISS ships as IVFPQ and the real
  // 100 TB ANN architecture: the coarse quantizer prunes the scan to
  // nProbe of nLists inverted lists, and the PQ encodes RESIDUALS
  // x − c(list), which concentrate near zero and quantize far better
  // than raw vectors at the same code budget. One PQ is trained on the
  // pooled residuals of all lists (the standard factoring — per-list
  // codebooks would need nLists × the training data and broadcast
  // bytes). Score decomposition for cosine on normalized vectors:
  // dot(qn, xn) ≈ dot(qn, c_l) + Σ_m dot(qn_m, r̂_m) — the coarse term
  // is per probed list (nProbe rows/query), the residual LUT is per
  // (query, m, cid) and list-INDEPENDENT (2.5k rows broadcast), so the
  // probe join ships only 8-byte keys + one double. Exact re-rank of
  // the top ADC candidates, as in E10.

  /** Staged IVFADC model frame — one artifact, FAISS-index-file style:
    * rows with m = -1 are the coarse centroids (cid = list id, trained
    * k-means++ + Lloyd on the normalized sample, L2 = the assignment
    * metric); rows with m ≥ 0 are the residual PQ codebooks (trained
    * on the sample's pooled residuals). One training run, one small
    * broadcastable frame (16 + 16×16 rows).
    */
  private[graft] def ivfPqBook(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s, s"sim.ivfpq.book:$d") {
      val sampleNorm = seedSample(s, d).map { v =>
        var n2 = 0.0; var i = 0
        while (i < v.length) { n2 += v(i).toDouble * v(i); i += 1 }
        val nrm = math.sqrt(n2)
        v.map(x => (x / nrm).toFloat)
      }
      val coarse = lloydRefine(sampleNorm,
        kppSeeds(sampleNorm, NCentroids, l2Dist2), PqLloydIters, l2Dist2)
      // pooled residuals w.r.t. each sample point's assigned list
      val residuals = sampleNorm.map { p =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < coarse.length) {
          val dd = l2Dist2(p, coarse(c))
          if (dd < bd) { bd = dd; best = c }
          c += 1
        }
        val ce = coarse(best)
        Array.tabulate(p.length)(i => p(i) - ce(i))
      }
      val book = (0 until PqM).flatMap { m =>
        val subs = residuals.map(_.slice(m * PqSub, (m + 1) * PqSub))
        lloydRefine(subs, kppSeeds(subs, PqK, l2Dist2),
          PqLloydIters, l2Dist2).zipWithIndex
          .map { case (sv, cid) => (m, cid, sv) }
      }
      val coarseRows = coarse.zipWithIndex.map { case (ce, l) => (-1, l, ce) }
      import s.implicits._
      (coarseRows ++ book).toDF("m", "cid", "ce")
    }

  /** Encoded corpus: (vec_id, list, m, cid) — the inverted lists with
    * 16 residual codes per vector. One corpus scan (the encode pass);
    * staged alongside the book.
    */
  private[graft] def ivfPqCodes(s: SparkSession, d: String): DataFrame =
    // PARTITIONED BY list (round 17), the ivfLists layout one level
    // down: the ADC probe's join on list reads only the probed lists'
    // code partitions (dynamic partition pruning) — per-query IO ∝
    // probed-list ENCODED mass, the IVFADC contract at 100 TB
    graft.FrameCache.getOrPersistLayout(s, s"sim.ivfpq.codes:$d",
      graft.FrameCache.Layout(partitionCols = Seq("list"))) {
      ivfPqEncode(ivfPqBook(s, d),
        Tables.spread(Tables.embeddings(s, d), s, "vec_id"))
    }

  /** The IVFADC encode pass over an ARBITRARY (vec_id, embedding)
    * frame — batch or streaming (A61 encodes arriving vectors with it
    * map-side). Both quantizer levels ride as literal arrays: the
    * whole pass is one map-only pipeline — no crossJoin row
    * amplification, no per-vector window, no exchange at all (the
    * round-8 shape shuffled 16× the corpus twice). Same lowest-index
    * tiebreaks as the ranked form. Degenerate (zero-norm) vectors are
    * dropped, as in the staged build.
    */
  private[graft] def ivfPqEncode(book: DataFrame, emb: DataFrame): DataFrame = {
    val coarseLit = typedlit(bookAsArrays(
      book.filter(col("m") === -1).withColumn("m", lit(0))).head)
    val booksLit = typedlit(bookAsArrays(book.filter(col("m") >= 0)))
    val xn = emb
      .withColumn("nrm", F.l2norm(col("embedding")))
      .filter(col("nrm") > 0)
      .withColumn("xn", expr("transform(embedding, x -> CAST(x / nrm AS FLOAT))"))
      .select(col("vec_id"), col("xn"))
    // assign each vector to its nearest list (L2 in normalized
    // space), then slice per-subspace residuals against that list's
    // centroid
    xn.withColumn("list", F.argmin_l2(col("xn"), coarseLit))
      .withColumn("le", element_at(coarseLit, col("list") + 1))
      .select(col("vec_id"), col("list"), explode(expr(
        s"""transform(sequence(0, ${PqM - 1}),
           |  m -> struct(m AS m, slice(zip_with(xn, le,
           |    (x, c) -> CAST(x - c AS FLOAT)), m * $PqSub + 1, $PqSub) AS sv))"""
          .stripMargin)).as("p"))
      .select(col("vec_id"), col("list"), col("p.m").as("m"),
        col("p.sv").as("sv"))
      .withColumn("cid",
        F.argmin_l2(col("sv"), element_at(booksLit, col("m") + 1)))
      .select(col("vec_id"), col("list"), col("m"), col("cid"))
  }

  val ivfPq = QueryDef.rowsOnly("knn_ivfpq") { (s, d) =>
    ivfPqFrame(s, d, NProbe)
  }

  /** The IVFADC pipeline with the probe count exposed — same dial as
    * [[ivfFrame]]; the planted-cluster spec runs both at nProbe = 4/16.
    */
  private[graft] def ivfPqFrame(s: SparkSession, d: String,
      nProbe: Int): DataFrame =
    ivfPqProbeWith(queriesDf(s, d), ivfPqBook(s, d), ivfPqCodes(s, d),
      Tables.embeddings(s, d), nProbe,
      probedMemoKey = Some(s"sim.ivfpq.probed:$d:$nProbe"))

  /** The E11 IVFADC probe pipeline over an ARBITRARY (query_id, qe)
    * frame with the staged artifacts passed in — [[pqProbeWith]]'s
    * shape for the coarse+residual index, shared verbatim by batch
    * knn_ivfpq and the A59 streaming twin. `queries` is consumed twice
    * (normalize/LUT + exact re-rank); expensive frames checkpoint.
    */
  private[graft] def ivfPqProbeWith(queries: DataFrame, book: DataFrame,
      codes: DataFrame, emb: DataFrame, nProbe: Int = NProbe,
      probedMemoKey: Option[String] = None): DataFrame = {
    val qn = queries
      .withColumn("nrm", F.l2norm(col("qe")))
      .filter(col("nrm") > 0)
      .withColumn("qn", expr("transform(qe, x -> CAST(x / nrm AS FLOAT))"))
      .select(col("query_id"), col("qn"))
    // probe: nProbe nearest lists per query, carrying the coarse term.
    // Cut at the checkpoint, then push the bounded distinct probed-list
    // set as a LITERAL isin partition filter on the codes scan, exactly
    // as in ivfProbeWith (round 18: static literal pruning replaces the
    // DPP arrangement — guaranteed, and it survives micro-batch plans
    // and manifest-generation unions where the DPP rule cannot fire).
    val probesCut = qn.crossJoin(broadcast(book.filter(col("m") === -1)
        .select(col("cid").as("list"), col("ce").as("le"))))
      .withColumn("dist2", l2d(col("qn"), col("le")))
      .withColumn("lrk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("dist2"), col("list"))))
      .filter(col("lrk") <= nProbe)
      .select(col("query_id"), col("list"),
        F.dot_product(col("qn"), col("le")).as("coarse"))
      .localCheckpoint()
    // a FrameCache memo when the caller certifies the queries are the
    // registered set (probedMemoKey names the corpus dir, as in
    // ivfProbeWith); per-trigger serving batches pass None and collect
    // fresh
    def lists = cidUnion(probesCut.select(col("list")))
    val probedLists = probedMemoKey.fold(lists)(
      graft.FrameCache.memo(probesCut.sparkSession, _)(lists))
    val probes = broadcast(probesCut)
    // residual ADC lookup table: list-independent, (query, m, cid)
    val lut = broadcast(qn
      .select(col("query_id"), explode(expr(
        s"""transform(sequence(0, ${PqM - 1}),
           |  m -> struct(m AS m, slice(qn, m * $PqSub + 1, $PqSub) AS qsv))"""
          .stripMargin)).as("p"))
      .select(col("query_id"), col("p.m").as("m"), col("p.qsv").as("qsv"))
      .join(broadcast(book.filter(col("m") >= 0)), Seq("m"))
      .select(col("query_id"), col("m"), col("cid"),
        F.dot_product(col("qsv"), col("ce")).as("part")))
    // probed-list codes only: the join on list IS the IVF pruning, and
    // the literal isin prunes the codes scan to the probed partitions
    val cand = codes.filter(col("list").isin(probedLists: _*))
      .join(probes, Seq("list"))
      .join(lut, Seq("query_id", "m", "cid"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg((max(col("coarse")) + sum(col("part"))).as("adc"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc").desc, col("vec_id"))))
      .filter(col("crk") <= PqRerank)
      .select(col("query_id"), col("vec_id"))
    topK(cand
      .join(queries, Seq("query_id"))
      .join(emb.select(col("vec_id"), col("embedding").as("ea")),
        Seq("vec_id")))
  }

  /** The E10 ADC probe pipeline over an ARBITRARY (query_id, qe) frame,
    * with the staged artifacts passed in — shared verbatim by batch
    * knn_pq and the A58 streaming twin (whose foreachBatch feeds each
    * arrival batch through this exact plan against the build session's
    * artifacts: the serving model, where the index is immutable for
    * the life of the server). `queries` is consumed twice (LUT build +
    * exact re-rank); callers whose frame is expensive checkpoint it.
    * `rerank` is the ADC-candidate depth re-ranked exactly — the
    * second recall dial (E25 sweeps it; knn_pq runs PqRerank).
    */
  private[graft] def pqProbeWith(queries: DataFrame, codebook: DataFrame,
      codes: DataFrame, emb: DataFrame, rerank: Int = PqRerank): DataFrame = {
    val cand = pqAdcRanked(queries, codebook, codes)
      .filter(col("crk") <= rerank)
      .select(col("query_id"), col("vec_id"))
    topK(cand
      .join(queries, Seq("query_id"))
      .join(emb.select(col("vec_id"), col("embedding").as("ea")), Seq("vec_id")))
  }

  /** The ADC candidate RANKING (query_id, vec_id, crk) shared by every
    * rerank depth: LUT join + map-side-combined fold + one rank window.
    * Factored out (round 15) so E25's sweep computes it ONCE and each
    * depth is a filter over `crk` — the candidate sets per depth are
    * nested by construction, the same sharing the banding sweep gets
    * from nested bandings.
    */
  private def pqAdcRanked(queries: DataFrame, codebook: DataFrame,
      codes: DataFrame): DataFrame = {
    // ADC lookup table: |queries| × 16 subspaces × 16 centroids
    val lut = broadcast(queries
      .select(col("query_id"), explode(expr(
        s"""transform(sequence(0, ${PqM - 1}),
           |  m -> struct(m AS m, slice(qe, m * $PqSub + 1, $PqSub) AS qsv))"""
          .stripMargin)).as("p"))
      .select(col("query_id"), col("p.m").as("m"), col("p.qsv").as("qsv"))
      .join(broadcast(codebook), Seq("m"))
      .select(col("query_id"), col("m"), col("cid"),
        F.dot_product(col("qsv"), col("ce")).as("part")))
    codes.join(lut, Seq("m", "cid"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("part")).as("adc"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc").desc, col("vec_id"))))
  }

  val pq = QueryDef.rowsOnly("knn_pq") { (s, d) =>
    pqProbeWith(queriesDf(s, d), pqCodebook(s, d), pqCodes(s, d),
      Tables.embeddings(s, d))
  }

  // --- E12: k-NN graph construction ---------------------------------------
  // Top-K neighbor graph over the WHOLE corpus — the primitive behind
  // SemDeDup-style semantic pruning, cluster-based curation, and graph
  // ANN index builds (NN-Descent's seed graph). Same SRP machinery as
  // E2, but corpus↔corpus: every vector lands in 16 bucket keys (one
  // per table), candidates = the bucket SELF-join (radius-0 — the
  // graph's neighbor cosines sit well below the query set's top-5, so
  // radius-0 collisions are rare — measured recall 0.25; the E2
  // multiprobe dial, radius ≤ 2 on the PROBE side of the self-join,
  // recovers it the same way it does for E2), exact cosine re-rank
  // keeps only the true top-K of each node's candidate set. Emitted
  // cosines are exact.
  //
  // Scale (100 TB): the self-join shuffles (vec_id, bucket) pairs — 8
  // bytes + an int, never the vectors; the 37×-per-table probe fan-out
  // amplifies only those pairs, and vector bytes ship exactly twice
  // per surviving candidate pair (the two equi-joins before re-rank).
  // Bucket occupancy is the cost dial (more tables/bits → smaller
  // buckets); hot buckets (degenerate embedding mass) are the same
  // AQE-skew class the D3 band join spec pins. No n² anywhere.
  /** Staged E12 candidate-pair frame — the graph INDEX build: in
    * production the neighbor graph is built once and reused (SemDeDup
    * sweeps, NN-Descent seeding), so the bucket self-join + distinct
    * is a build-once artifact like the PQ codes and the shingle index,
    * warmed under `_stage`; the per-query cost is the stable
    * fetch-vectors + exact-re-rank tail.
    */
  private def graphPairs(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s, s"sim.graph.pairs:$d") {
      val sig = Tables.spread(Tables.embeddings(s, d), s, "vec_id")
        .withColumn("sigs", F.srpSigsArray(col("embedding"), LshTables, LshBits))
      val b = sig.select(col("vec_id"),
        explode(expr(F.srpBandBucketsExpr("sigs", LshTables, LshBits)))
          .as("bucket"))
      val probeMasks = (0 until (1 << LshBits))
        .filter(m => Integer.bitCount(m) <= LshProbeRadius)
      val probes = sig.select(col("vec_id").as("query_id"), explode(expr(
        s"""flatten(transform(sequence(0, ${LshTables - 1}), t ->
           |  transform(array(${probeMasks.mkString(",")}),
           |    m -> t * ${1 << LshBits} + (${F.srpBandExpr("sigs", "t", LshBits)} ^ m))))"""
          .stripMargin)).as("bucket"))
      probes
        .join(b, Seq("bucket"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"))
        .distinct()
    }

  val graph = QueryDef.rowsOnly("knn_graph") { (s, d) =>
    val emb = Tables.embeddings(s, d)
    topK(graphPairs(s, d)
      .join(emb.select(col("vec_id").as("query_id"),
        col("embedding").as("qe")), Seq("query_id"))
      .join(emb.select(col("vec_id"), col("embedding").as("ea")),
        Seq("vec_id")))
  }

  // --- E14: attribute-filtered vector search -------------------------------
  // The filtered-ANN shape every production vector store grew
  // (metadata predicate + similarity): top-k among corpus vectors
  // sharing the QUERY's label — pre-filtering, not post-filtering, so
  // k survivors are guaranteed (post-filtering an unfiltered top-k can
  // return < k after the predicate). The label equi-join prunes the
  // candidate set BEFORE any vector arithmetic; on label-partitioned
  // storage at 100 TB the same join is partition pruning, and within a
  // label the E2-E11 bucketed machinery applies unchanged. Exact within
  // the filter → oracled (no recall contract needed).
  val filtered = QueryDef.oracled(
    "knn_filtered",
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label
      |           FROM embeddings WHERE vec_id < $NQueries),
      |s AS (SELECT query_id, vec_id, ${cosSql("qe", "embedding")} AS cosine
      |      FROM q JOIN embeddings USING (label) WHERE vec_id <> query_id),
      |sf AS (SELECT * FROM s WHERE NOT isnan(cosine)),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |               ORDER BY cosine DESC, vec_id) AS rank FROM sf)
      |SELECT query_id, rank, vec_id AS neighbor_id, cosine
      |FROM r WHERE rank <= $K ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val q = Tables.embeddings(s, d).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label"))
    val corpus = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("ea"), col("label"))
    topK(broadcast(q).join(corpus, Seq("label"))
      .filter(col("vec_id") =!= col("query_id")))
  }

  // --- E13: per-dimension embedding statistics -----------------------------
  // The embedding-store diagnostic pass (the whitening / dead-dimension
  // check a vector pipeline runs before training an index): per
  // dimension, n / mean / variance / min / max. A collapsed dimension
  // (variance ≈ 0) or a runaway one (mean far off 0) is the standard
  // symptom of a broken encoder export.
  //
  // Bit-exactness: float SUMS are order-dependent, so naive avg() would
  // hash-mismatch across engines; instead each element is integerized
  // to micro-unit BIGINTs (the E7 idiom — rounding is deterministic in
  // both engines), all accumulation is exact integer arithmetic
  // (DECIMAL(38,0) sums: sum of squares overflows BIGINT at corpus
  // scale), and mean/variance are ONE identical double expression tree
  // evaluated at the end.
  //
  // Scale (100 TB): posexplode fans each vector into d rows map-side,
  // but partial aggregation collapses every partition to ≤ d rows
  // before the exchange — the shuffle ships (P × d) tiny rows into a
  // d-key final aggregate. Low-cardinality GROUP BY is safe where
  // B32's low-cardinality WINDOW was not, precisely because aggregation
  // combines map-side and a window sort cannot.
  val dimStats = QueryDef.oracled(
    "embedding_dim_stats",
    """WITH u AS (SELECT unnest(embedding) AS x,
      |            generate_subscripts(embedding, 1) - 1 AS dim
      |           FROM embeddings),
      |m AS (SELECT dim, CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xm
      |      FROM u)
      |SELECT dim, count(*) AS n,
      |  CAST(sum(xm) AS DOUBLE) / 1000000.0 / count(*) AS mean,
      |  (CAST(sum(xm * xm) AS DOUBLE) / 1000000000000.0) / count(*)
      |    - (CAST(sum(xm) AS DOUBLE) / 1000000.0 / count(*))
      |      * (CAST(sum(xm) AS DOUBLE) / 1000000.0 / count(*)) AS variance,
      |  CAST(min(xm) AS DOUBLE) / 1000000.0 AS min_val,
      |  CAST(max(xm) AS DOUBLE) / 1000000.0 AS max_val
      |FROM m GROUP BY dim ORDER BY dim""".stripMargin) { (s, d) =>
    val mean = col("s").cast("double") / 1000000.0 / col("n")
    Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)").as("xm"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("xm").cast("decimal(38,0)")).as("s"),
        sum((col("xm") * col("xm")).cast("decimal(38,0)")).as("s2"),
        min(col("xm")).as("mn"), max(col("xm")).as("mx"))
      .select(col("dim"), col("n"),
        mean.as("mean"),
        ((col("s2").cast("double") / 1000000000000.0) / col("n")
          - mean * mean).as("variance"),
        (col("mn").cast("double") / 1000000.0).as("min_val"),
        (col("mx").cast("double") / 1000000.0).as("max_val"))
      .orderBy(col("dim"))
  }

  // --- E15: range (radius) search ------------------------------------------
  // The OTHER primitive a vector store exposes next to top-k: ALL
  // corpus vectors with cosine ≥ τ of each query — the shape behind
  // "find everything semantically close to this" (dedup sweeps, policy
  // screens, recall-complete retrieval). Exact and deterministic →
  // oracled. τ = 0.35 sits above the synthetic corpus's random-cosine
  // background (D5 uses 0.45 for near-dup grade).
  //
  // Scale (100 TB): with a bounded query set the right plan IS the
  // map-only corpus scan below — broadcast queries, no shuffle at all,
  // rows leave the scan only when they clear τ. When the query side
  // grows past broadcast size, the D5 machinery applies unchanged
  // (seeded SRP bands at P(miss) ≈ 7.5e-9 per pair + exact verify):
  // range search at near-dup τ is exactly the query→corpus half of
  // dedup_embedding's pair enumeration.
  private val RangeTau = 0.35
  val rangeSearch = QueryDef.oracled(
    "knn_range",
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
      |           FROM embeddings WHERE vec_id < $NQueries),
      |s AS (SELECT query_id, vec_id, ${cosSql("qe", "embedding")} AS cosine
      |      FROM q JOIN embeddings ON vec_id <> query_id)
      |SELECT query_id, vec_id AS neighbor_id, cosine
      |FROM s WHERE NOT isnan(cosine) AND cosine >= $RangeTau
      |ORDER BY query_id, neighbor_id""".stripMargin) { (s, d) =>
    val corpus = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("ea"))
    broadcast(queriesDf(s, d))
      .join(corpus, col("vec_id") =!= col("query_id"))
      .withColumn("cosine", F.cosine_sim(col("qe"), col("ea")))
      .filter(!isnan(col("cosine")) && col("cosine") >= RangeTau)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("neighbor_id"))
  }

  // --- E16: binary (1-bit) quantized search --------------------------------
  // Sign-bit binary quantization — the memory-floor scan path modern
  // vector stores ship under names like "binary quantization"/"BQ":
  // each 64-dim float vector compresses to 64 SIGN bits (256 B → 16 B,
  // 16× below even E5's int8), the cheap pass scores candidates by
  // hamming distance (XOR + popcount — no multiplies), and only the
  // top-C survivors are re-ranked by exact cosine on the full vectors.
  // Sign-bit hamming approximates angle the same way SRP does (E2),
  // with the identity basis as the projection.
  //
  // Every step is deterministic (strict x > 0 sign test, hamming ties
  // broken by vec_id) → ORACLED, unlike the probe-tuned ANN family:
  // the candidate set is a pure function of the data. C = 64 ≫ K = 5
  // absorbs the 1-bit ranking error (spec also measures recall vs E1).
  //
  // Bits pack into TWO 32-bit halves (lo = dims 0–31, hi = 32–63):
  // all shifts stay ≤ 31, which both engines' BIGINT shift accepts
  // (DuckDB rejects 1 << 63 as overflow), and the packed words stay
  // non-negative so no sign-extension subtleties cross engines.
  //
  // Scale (100 TB): packing is map-only; the hamming pass scans 16 B
  // per vector with broadcast query signatures (no shuffle); exact
  // vectors are fetched once per surviving candidate — the E10/E11
  // compressed-scan-then-rerank architecture with the simplest codec.
  private val BinaryCand = 64
  private def packBitsSql(v: String, from: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(range(0, 32),
       |    i -> CASE WHEN CAST($v[i + ${from + 1}] AS DOUBLE) > 0
       |              THEN CAST(1 AS BIGINT) << CAST(i AS INTEGER)
       |              ELSE CAST(0 AS BIGINT) END)),
       |  (a, b) -> a + b)""".stripMargin
  private def packBitsExpr(v: String, from: Int): String =
    s"""aggregate(sequence(0, 31), CAST(0 AS BIGINT),
       |  (acc, i) -> acc + IF(element_at($v, i + ${from + 1}) > CAST(0 AS DOUBLE),
       |                       shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))""".stripMargin
  val binary = QueryDef.oracled(
    "knn_binary",
    s"""WITH p AS (SELECT vec_id, embedding,
      |             ${packBitsSql("embedding", 0)} AS lo,
      |             ${packBitsSql("embedding", 32)} AS hi
      |            FROM embeddings),
      |q AS (SELECT vec_id AS query_id, embedding AS qe, lo AS qlo, hi AS qhi
      |      FROM p WHERE vec_id < $NQueries),
      |h AS (SELECT query_id, qe, vec_id, embedding,
      |        bit_count(xor(qlo, lo)) + bit_count(xor(qhi, hi)) AS ham
      |      FROM q JOIN p ON vec_id <> query_id),
      |c AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |               ORDER BY ham, vec_id) AS hrk FROM h),
      |s AS (SELECT query_id, vec_id, ${cosSql("qe", "embedding")} AS cosine
      |      FROM c WHERE hrk <= $BinaryCand),
      |sf AS (SELECT * FROM s WHERE NOT isnan(cosine)),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |               ORDER BY cosine DESC, vec_id) AS rank FROM sf)
      |SELECT query_id, rank, vec_id AS neighbor_id, cosine
      |FROM r WHERE rank <= $K ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val packed = Tables.embeddings(s, d)
      .select(col("vec_id"),
        expr(packBitsExpr("embedding", 0)).as("lo"),
        expr(packBitsExpr("embedding", 32)).as("hi"))
    val qp = packed.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"),
        col("lo").as("qlo"), col("hi").as("qhi"))
    // cheap pass: 16 B/vector, broadcast query signatures, popcount only
    val cand = broadcast(qp)
      .join(packed, col("vec_id") =!= col("query_id"))
      .withColumn("ham",
        bit_count(col("qlo").bitwiseXOR(col("lo")))
          + bit_count(col("qhi").bitwiseXOR(col("hi"))))
      .withColumn("hrk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("ham"), col("vec_id"))))
      .filter(col("hrk") <= BinaryCand)
      .select(col("query_id"), col("vec_id"))
    // exact re-rank: full vectors fetched only for the C candidates
    topK(cand
      .join(queriesDf(s, d), Seq("query_id"))
      .join(Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("ea")), Seq("vec_id")))
  }

  /** Shared sample-trained codebook (k-means++ seeds + Lloyd over the
    * fingerprint-keyed sample, cosine metric) — THE training path for
    * the E3 lists and E17's clusters, factored to one site so the two
    * cannot desynchronize. A FrameCache memo: training is fully
    * deterministic in the corpus (fingerprint-ordered sample, seeded
    * draws), so E3 + E17 + the spec replay pay the sample collect +
    * Lloyd once per session and corpus version.
    */
  private[graft] def trainedCentroids(s: SparkSession, d: String): IndexedSeq[Array[Float]] =
    graft.FrameCache.memo(s, s"sim.centroids:$d") {
      val sample = seedSample(s, d)
      lloydRefine(sample, kppSeeds(sample, NCentroids, cosDist),
        IvfLloydIters, cosDist)
    }

  // --- E17: corpus clustering — the cluster-then-curate primitive ----------
  // K-means clustering surfaced as a first-class query (SemDeDup and
  // cluster-balanced sampling both start from exactly this table):
  // every vector assigned to its nearest sample-trained centroid
  // (argmax cosine — the E3 quantizer, shared via trainedCentroids),
  // with per-cluster population and cohesion stats. Training is
  // sample-bounded (never scans the corpus); the corpus pass is
  // MAP-ONLY — argmax_cos against the literal codebook, cosine to the
  // OWN centroid via element_at on the same literal — into one
  // NCentroids-key aggregate with map-side partials (the E13 shape:
  // low-cardinality GROUP BY is safe where a low-cardinality window
  // is not, because aggregation combines map-side).
  //
  // Bit-exactness discipline (E7/E13 idiom): per-row cosines are
  // integerized to micro-unit BIGINTs, accumulated in exact
  // DECIMAL(38,0), and emitted through one double expression tree —
  // deterministic across runs, asserted by the spec's driver-side
  // replay. No DuckDB oracle because the centroids are driver-trained
  // (rows+spec, like the rest of the trained-quantizer family).
  val clustering = QueryDef.rowsOnly("embedding_clusters") { (s, d) =>
    val refined = trainedCentroids(s, d)
    val lits = typedlit(refined.map(_.toSeq))
    val meanCos = col("sc").cast("double") / 1000000.0 / col("n_vecs")
    Tables.embeddings(s, d)
      .withColumn("nrm", F.l2norm(col("embedding")))
      .filter(col("nrm") > 0) // zero vectors have no angle — excluded
      .withColumn("cid", F.argmax_cos(col("embedding"), lits).cast("long"))
      .withColumn("cos_own", F.cosine_sim(col("embedding"),
        element_at(lits, (col("cid") + 1).cast("int"))))
      // micro-unit integerized cosine to the OWN centroid
      .withColumn("cm", expr("CAST(round(cos_own * 1000000) AS BIGINT)"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("cm").cast("decimal(38,0)")).as("sc"),
        min(col("cm")).as("mn"))
      .select(col("cid"), col("n_vecs"), meanCos.as("mean_cos"),
        (col("mn").cast("double") / 1000000.0).as("min_cos"))
      .orderBy(col("cid"))
  }

  // --- E18: hybrid lexical+vector retrieval with RRF fusion ----------------
  // The RAG retrieval stack in one operator: a lexical (sparse,
  // tf·idf-ranked) top-10 and a vector (dense, exact-cosine) top-10
  // per query, fused by Reciprocal Rank Fusion (Cormack et al. SIGIR'09,
  // the score-free fusion every hybrid search engine ships): each list
  // contributes 1/(60+rank). Queries are the first NQueries docs
  // (doc_id ≡ vec_id in this corpus).
  //
  // Determinism: the lexical score is Σ tf · (N div df) — the C15
  // raw-idf family with an INTEGER idf, so ranks are exact-integer
  // sorts; cosine ranks come from the oracle-anchored E1 kernel; and
  // the RRF sum 1/(60+rl) + 1/(60+rv) is carried as an exact rational
  // (num = 120+rl+rv, den = (60+rl)(60+rv); single-list rows are
  // 1/(60+r)) with ONE double divide at the end — bit-identical
  // cross-engine, hence a full hash oracle on a fusion op.
  //
  // Scale (100 TB): the lexical side is the D2b inverted-index shape —
  // the distinct query-term set broadcasts, the (tok → posting) join
  // shuffles on the token key, and the per-(query, doc) rollup has
  // map-side partials; in production tf/df are the staged index
  // artifact. The vector side is E1's broadcast map-only scan (or any
  // E-family index). Fusion joins are query×10-sized — driver-free,
  // exchange-negligible.
  private val FuseL = 10 // per-list candidate depth fed to the fusion

  /** The lexical inverted index (tf per posting + df per token) — the
    * build-once artifact every search engine maintains next to its
    * vector index. Owned by the text family (TextAnalysis.lexTf/lexDf,
    * shared with C15) so the tokenizer cannot drift between the tf·idf
    * ranking and the hybrid retrieval's lexical scores.
    */
  private def lexIndex(s: SparkSession, d: String): (DataFrame, DataFrame) =
    (TextAnalysis.lexTf(s, d), TextAnalysis.lexDf(s, d))
  val hybrid = QueryDef.oracled(
    "knn_hybrid",
    s"""WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      |             FROM documents),
      |ftok AS (SELECT * FROM tok
      |         WHERE tok NOT IN (${TextAnalysis.stopwordsSql})),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM ftok GROUP BY 1, 2),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM ftok GROUP BY 1),
      |nd AS (SELECT count(*) AS n FROM documents),
      |qt AS (SELECT DISTINCT doc_id AS query_id, tok FROM ftok
      |       WHERE doc_id < $NQueries),
      |ls AS (SELECT qt.query_id, tf.doc_id,
      |              sum(tf.tf * (n // df.df)) AS lex_score
      |       FROM qt JOIN tf USING (tok) JOIN df USING (tok) CROSS JOIN nd
      |       WHERE tf.doc_id <> qt.query_id GROUP BY 1, 2),
      |lr AS (SELECT query_id, doc_id, row_number() OVER (
      |         PARTITION BY query_id ORDER BY lex_score DESC, doc_id)
      |         AS lex_rank
      |       FROM ls WHERE lex_score > 0),
      |lrf AS (SELECT query_id, doc_id, lex_rank FROM lr WHERE lex_rank <= $FuseL),
      |q AS (SELECT vec_id AS query_id, embedding AS qe
      |      FROM embeddings WHERE vec_id < $NQueries),
      |vs AS (SELECT query_id, vec_id AS doc_id, ${cosSql("qe", "embedding")} AS cosine
      |       FROM q JOIN embeddings ON vec_id <> query_id),
      |vr AS (SELECT query_id, doc_id, row_number() OVER (
      |         PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS vec_rank
      |       FROM vs WHERE NOT isnan(cosine)),
      |vrf AS (SELECT query_id, doc_id, vec_rank FROM vr WHERE vec_rank <= $FuseL),
      |fused AS (SELECT
      |    coalesce(l.query_id, v.query_id) AS query_id,
      |    coalesce(l.doc_id, v.doc_id) AS doc_id, l.lex_rank, v.vec_rank,
      |    CAST(CASE WHEN l.lex_rank IS NOT NULL AND v.vec_rank IS NOT NULL
      |              THEN 120 + l.lex_rank + v.vec_rank ELSE 1 END AS BIGINT)
      |      AS rrf_num,
      |    CAST(CASE WHEN l.lex_rank IS NOT NULL AND v.vec_rank IS NOT NULL
      |              THEN (60 + l.lex_rank) * (60 + v.vec_rank)
      |              WHEN l.lex_rank IS NOT NULL THEN 60 + l.lex_rank
      |              ELSE 60 + v.vec_rank END AS BIGINT) AS rrf_den
      |  FROM lrf l FULL OUTER JOIN vrf v
      |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id),
      |rr AS (SELECT *,
      |         CAST(rrf_num AS DOUBLE) / CAST(rrf_den AS DOUBLE) AS rrf_score,
      |         row_number() OVER (PARTITION BY query_id ORDER BY
      |           CAST(rrf_num AS DOUBLE) / CAST(rrf_den AS DOUBLE) DESC,
      |           doc_id) AS rank
      |       FROM fused)
      |SELECT query_id, rank, doc_id, lex_rank, vec_rank, rrf_score
      |FROM rr WHERE rank <= $K ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val (tf, dfr) = lexIndex(s, d)
    val nd = broadcast(Tables.documents(s, d).agg(count(lit(1)).as("n")))
    // query-side term sets come FROM the staged index (tf of the query
    // docs), not a re-tokenization — the probe path reads artifacts only
    val qt = broadcast(tf.filter(col("doc_id") < NQueries)
      .select(col("doc_id").as("query_id"), col("tok")).distinct())
    val lex = qt.join(tf, Seq("tok")).join(dfr, Seq("tok")).crossJoin(nd)
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("tf") * expr("n div df")).as("lex_score"))
      .filter(col("lex_score") > 0)
      .withColumn("lex_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("lex_score").desc, col("doc_id"))).cast("long"))
      .filter(col("lex_rank") <= FuseL)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
    val vec = broadcast(queriesDf(s, d))
      .join(Tables.embeddings(s, d).select(col("vec_id"), col("embedding").as("ea")),
        col("vec_id") =!= col("query_id"))
      .withColumn("cosine", F.cosine_sim(col("qe"), col("ea")))
      .filter(!isnan(col("cosine")))
      .withColumn("vec_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))).cast("long"))
      .filter(col("vec_rank") <= FuseL)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("vec_rank"))
    val both = col("lex_rank").isNotNull && col("vec_rank").isNotNull
    lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_num",
        when(both, lit(120L) + col("lex_rank") + col("vec_rank"))
          .otherwise(lit(1L)))
      .withColumn("rrf_den",
        when(both, (lit(60L) + col("lex_rank")) * (lit(60L) + col("vec_rank")))
          .when(col("lex_rank").isNotNull, lit(60L) + col("lex_rank"))
          .otherwise(lit(60L) + col("vec_rank")))
      .withColumn("rrf_score",
        col("rrf_num").cast("double") / col("rrf_den").cast("double"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf_score").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("doc_id"), col("lex_rank"),
        col("vec_rank"), col("rrf_score"))
      .orderBy(col("query_id"), col("rank"))
  }

  // --- E19: MMR-diversified retrieval (round 10) ----------------------------
  // Maximal Marginal Relevance (Carbonell & Goldstein 1998) — the
  // diversity re-rank every RAG retriever runs after ANN: from each
  // query's top-30 cosine pool, greedily select 5 maximizing
  // mmr = (7·cos(q,c) − 3·max_{s∈S} cos(c,s)) / 10 (λ = 0.7 as an
  // exact integer-ratio tree so both engines evaluate the identical
  // double expression; first pick penalty = 0). Greedy selection is
  // inherently sequential, but each STEP is relational: a max-penalty
  // aggregate against the selected set + one argmax window — so the 5
  // steps unroll as a DataFrame loop here and a CTE chain in the
  // oracle, and the query is fully HASH-ORACLED (cosines are the
  // bit-exact strict-fold kernel, spec-pinned vs cosSql).
  //
  // Scale (100 TB): the corpus-facing work is the E1-shaped pool scan
  // (broadcast queries, map-only, top-30 via WindowGroupLimit); the
  // greedy loop runs on the checkpointed pool — |queries| × 30 rows,
  // dimension-sized — so the 5 iterations never re-touch the corpus.
  private val MmrPoolK = 30
  private val MmrK = 5
  val mmr = QueryDef.oracled(
    "knn_mmr", {
      val head =
        s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
          |           FROM embeddings WHERE vec_id < $NQueries),
          |s AS (SELECT query_id, vec_id, embedding AS ea,
          |             ${cosSql("qe", "embedding")} AS cosine
          |      FROM q JOIN embeddings ON vec_id <> query_id),
          |pool AS (SELECT query_id, vec_id, ea, cosine FROM (
          |           SELECT *, row_number() OVER (PARTITION BY query_id
          |                     ORDER BY cosine DESC, vec_id) AS rnk
          |           FROM s WHERE NOT isnan(cosine)) WHERE rnk <= $MmrPoolK),
          |sel1 AS (SELECT query_id, vec_id, ea, cosine,
          |                CAST(1 AS BIGINT) AS mmr_rank,
          |                (7*cosine - 3*0.0)/10 AS mmr
          |         FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          |                     ORDER BY cosine DESC, vec_id) AS rnk FROM pool)
          |         WHERE rnk = 1),
          |cum1 AS (SELECT * FROM sel1),
          |rem1 AS (SELECT p.* FROM pool p LEFT JOIN sel1 x
          |           ON p.query_id = x.query_id AND p.vec_id = x.vec_id
          |         WHERE x.vec_id IS NULL)""".stripMargin
      val steps = (2 to MmrK).map { i =>
        val j = i - 1
        s"""pen$i AS (SELECT r.query_id, r.vec_id,
          |             max(${cosSql("r.ea", "x.ea")}) AS pen
          |           FROM rem$j r JOIN cum$j x USING (query_id)
          |           GROUP BY r.query_id, r.vec_id),
          |sel$i AS (SELECT query_id, vec_id, ea, cosine,
          |                 CAST($i AS BIGINT) AS mmr_rank, mmr FROM (
          |            SELECT r.query_id, r.vec_id, r.ea, r.cosine,
          |                   (7*r.cosine - 3*p.pen)/10 AS mmr,
          |                   row_number() OVER (PARTITION BY r.query_id
          |                     ORDER BY (7*r.cosine - 3*p.pen)/10 DESC, r.vec_id) AS rn
          |            FROM rem$j r JOIN pen$i p
          |              ON r.query_id = p.query_id AND r.vec_id = p.vec_id)
          |          WHERE rn = 1),
          |cum$i AS (SELECT * FROM cum$j UNION ALL SELECT * FROM sel$i),
          |rem$i AS (SELECT r.* FROM rem$j r LEFT JOIN sel$i x
          |            ON r.query_id = x.query_id AND r.vec_id = x.vec_id
          |          WHERE x.vec_id IS NULL)""".stripMargin
      }.mkString(",\n", ",\n", "")
      s"""$head$steps
        |SELECT query_id, mmr_rank, vec_id AS neighbor_id, cosine, mmr
        |FROM cum$MmrK ORDER BY query_id, mmr_rank""".stripMargin
    }) { (s, d) =>
    val corpus = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("ea"))
    val pool = broadcast(queriesDf(s, d))
      .join(corpus, col("vec_id") =!= col("query_id"))
      .withColumn("cosine", F.cosine_sim(col("qe"), col("ea")))
      .filter(!isnan(col("cosine")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("rnk") <= MmrPoolK)
      .select(col("query_id"), col("vec_id"), col("ea"), col("cosine"))
    // Greedy selection DRIVER-SIDE over the collected pool (r18). The
    // corpus-facing work above stays distributed; the pool is
    // |queries| × 30 rows — dimension-bounded, the codebook-collect
    // class — and the old per-step DataFrame loop cost 8 localCheckpoint
    // jobs plus 4 rounds of Catalyst planning on tiny frames (the query
    // was planning-bound: cross-SF exponent ~0). Bit-exactness: the
    // pairwise penalty calls the IDENTICAL HashImpl.cosineFF kernel the
    // CosineSim expression compiles to, on the same float arrays; the
    // mmr score replays Spark's literal-promoted double tree
    // (7·cos − 3·pen)/10; argmax order (mmr desc, vec_id asc) uses
    // java.lang.Double.compare — Spark's double ordering (no NaNs here:
    // the pool filtered them, and candidate–candidate cosines of
    // nonzero-norm vectors are finite).
    // |queries| × MmrPoolK rows, bound stated loudly (r19): past ~33k
    // queries per report the greedy selection belongs back on executors.
    val poolRows = graft.queries.Analytics.boundedDriverCollect(pool,
      1 << 20, s"knn_mmr candidate pool (|queries| x $MmrPoolK)")
    import org.apache.spark.sql.catalyst.util.ArrayData
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Double, Double)]
    poolRows.groupBy(_.getLong(0)).foreach { case (q, rowsQ) =>
      val cands = rowsQ.map { r =>
        (r.getLong(1),
          ArrayData.toArrayData(r.getSeq[Float](2).toArray),
          r.getDouble(3))
      }.sortBy(_._1)
      val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
      val selected = scala.collection.mutable.ArrayBuffer
        .empty[(Long, ArrayData, Double)]
      for (i <- 1 to MmrK if remaining.nonEmpty) {
        // rank 1 replays the original's (cosine desc, vec_id asc) pick;
        // later ranks score (7·cos − 3·max_pen)/10 and argmax by
        // (mmr desc, vec_id asc). Candidates are vec_id-sorted, so the
        // first strict improvement wins ties exactly like the
        // row_number window did.
        val (pick, mmr) =
          if (selected.isEmpty) {
            val p = remaining.reduceLeft { (a, b) =>
              if (java.lang.Double.compare(b._3, a._3) > 0) b else a }
            (p, (7 * p._3 - 3 * 0.0) / 10)
          } else {
            remaining.map { case c @ (_, ea, cos) =>
              val pen = selected.map(sel => graft.functions.HashImpl
                .cosineFF(ea, sel._2)).max
              (c, (7 * cos - 3 * pen) / 10)
            }.reduceLeft { (a, b) =>
              if (java.lang.Double.compare(b._2, a._2) > 0) b else a }
          }
        out += ((q, i.toLong, pick._1, pick._3, mmr))
        selected += pick
        remaining -= pick
      }
    }
    import s.implicits._
    out.toSeq
      .toDF("query_id", "mmr_rank", "neighbor_id", "cosine", "mmr")
      .orderBy(col("query_id"), col("mmr_rank"))
  }

  // --- E23: ANN recall report — the eval layer as an operator ---------------
  // What an embedding-infrastructure team runs after every index
  // rebuild: recall@K of each approximate method against the exact
  // answer, as ONE table (method, n_queries, k, n_exact, n_hits,
  // recall). The E2/E3/E10/E11/E16 recall contracts live in specs;
  // this surfaces the same measurement as a query so a production
  // pipeline can gate an index swap on it (FAISS-bench style) instead
  // of reading test logs. Methods share the staged index artifacts
  // (SRP signatures, PQ codes, codebooks — FrameCache / index-dir), so
  // the report costs the probe/scan work, not index rebuilds.
  //
  // Scale: each method's result is |queries|·K rows; the exact side is
  // broadcast into every hit join; the per-method aggregates union into
  // a |methods|-row report. No collect — the report composes the same
  // distributed plans the individual queries run.
  //
  // Anchors (round 14 — 8 of 8 approximate methods covered): the six
  // cosine methods measure against knn_bruteforce; knn_maxip_lsh ranks
  // by RAW DOT PRODUCT, so its exact anchor is knn_maxip (comparing it
  // to the cosine top-K would mis-score a correct MIPS result);
  // knn_graph is corpus↔corpus, whose full exact anchor is the O(n²)
  // graph — the report scores its QUERY-NODE rows (query_id < NQueries)
  // against knn_bruteforce, exactly the per-node recall the E12 spec
  // pins (the graph's rows for those nodes have identical semantics:
  // top-K over the corpus, self excluded).
  /** Staged exact top-K anchor (query_id, neighbor_id) — the
    * ground-truth file of a FAISS-style eval setup (round 15). E23,
    * E24, and E25 each scored against `bruteForce.fn` re-run per
    * report; the anchor is ONE brute-force scan per session now (and a
    * persisted artifact with the index dir set — ground truth is
    * corpus-derived, so the corpus fingerprint in the artifact path
    * keeps it honest across corpus regenerations).
    */
  private[graft] def exactAnchor(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s, s"sim.exactAnchor:$d") {
      bruteForce.fn(s, d).select(col("query_id"), col("neighbor_id"))
    }

  /** The MIPS twin: E9 ranks by raw dot product, so its ground truth is
    * E8's exact top-K — staged for the same reason (one exact scan per
    * session, re-read by every bench pass of the report).
    */
  private[graft] def exactMipAnchor(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s, s"sim.exactAnchorMip:$d") {
      maxip.fn(s, d).select(col("query_id"), col("neighbor_id"))
    }

  val recallReport = QueryDef.rowsOnly("knn_recall_report") { (s, d) =>
    val exact = exactAnchor(s, d)
    val exactMip = exactMipAnchor(s, d)
    // ONE union job (r19 — reverts r18's 4-thread driver pool, the
    // suite's worst r18 regression: driver bench 3.8 → 13.0 s under
    // load; 4 concurrent multi-stage foreground jobs amplified
    // external contention instead of back-filling it). The 8 method
    // probes are independent subtrees of one adaptive plan, and AQE
    // materializes every READY query stage concurrently — the union
    // already gets §2.6's overlap with no driver threads. (An async
    // per-method submit was measured too: under AQE, toRdd
    // materializes each plan's stages synchronously on the calling
    // thread, so it degenerates to sequential — 9.5 s steady vs the
    // union's 3.8-3.9 s ground truth.)
    val denom = exact
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_exact"))
      .localCheckpoint()
    val denomMip = exactMip
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_exact"))
      .localCheckpoint()
    def row(name: String, approx: DataFrame, anchor: DataFrame,
        anchorDenom: DataFrame): DataFrame = {
      val hits = approx.select(col("query_id"), col("neighbor_id"))
        .join(broadcast(anchor), Seq("query_id", "neighbor_id"))
      anchorDenom.crossJoin(hits.agg(count(lit(1)).as("n_hits")))
        .select(lit(name).as("method"), col("n_queries"), lit(K).as("k"),
          col("n_exact"), col("n_hits"),
          (col("n_hits").cast("double") / col("n_exact")).as("recall"))
    }
    val cosineRows = Seq(
      "knn_lsh" -> lsh, "knn_ivf" -> ivf, "knn_pq" -> pq,
      "knn_ivfpq" -> ivfPq, "knn_quantized" -> quantized,
      "knn_binary" -> binary)
      .map { case (name, q) => row(name, q.fn(s, d), exact, denom) }
    val graphRow = row("knn_graph",
      graph.fn(s, d).filter(col("query_id") < NQueries), exact, denom)
    val mipRow = row("knn_maxip_lsh", maxipLsh.fn(s, d), exactMip, denomMip)
    (cosineRows :+ graphRow :+ mipRow)
      .reduce(_ unionAll _).orderBy(col("method"))
  }

  // --- E24: IVF probe sweep — the nProbe tuning curve -----------------------
  // The dial E3's standing honest note says a deployment tunes, swept
  // as ONE table: recall@K and scanned-candidate mass at every probe
  // count — what an index operator reads to pick nProbe for a recall
  // SLO before committing a config (the FAISS "nprobe sweep" bench,
  // as an operator). Complements E23 (one row per METHOD at the
  // configured operating point) with the full curve for the IVF dial.
  //
  // Scale: all sweep points share the staged ivfLists artifact and
  // trained centroids; per point the cost is the probe join + top-K on
  // probed lists (≤ the knn_ivf cost), and the per-point aggregates
  // union into a |points|-row report. The exact anchor broadcasts once.
  // Derived, not hardcoded: the sweep must ALWAYS include the configured
  // operating point (NProbe — so the report prices what knn_ivf actually
  // runs) and the full-probe endpoint (NCentroids — the point the spec
  // pins EXACTLY 1.0 recall); retuning either constant keeps both
  // properties by construction instead of silently breaking them.
  private val SweepProbes =
    (Seq(1, 2, 4, 8) :+ NProbe :+ NCentroids).distinct.sorted.filter(_ <= NCentroids)
  val probeSweep = QueryDef.rowsOnly("knn_probe_sweep") { (s, d) =>
    import s.implicits._
    val exact = exactAnchor(s, d)
    val denom = exact
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_exact"))
      .localCheckpoint()
    // Score the probe fan-out ONCE at the full-probe endpoint, keeping
    // each candidate's list rank (lrk = how deep a probe must go to
    // reach its list): nProbe = p's candidate set is exactly the
    // lrk ≤ p prefix — the nested structure every sweep point shares
    // (round 15; previously each point re-ran the probe join + scan).
    // The endpoint scores |queries| × corpus slim rows — inherent in a
    // sweep that pins the exact full-probe point — eagerly cut so the
    // per-point top-Ks read the materialization.
    val refined = trainedCentroids(s, d)
    val centroids = broadcast(refined.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("cid", "ce"))
    val probes = queriesDf(s, d).crossJoin(centroids)
      .withColumn("csim", F.cosine_sim(col("qe"), col("ce")))
      .withColumn("lrk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("csim").desc, col("cid"))))
      .select(col("query_id"), col("qe"), col("cid"), col("lrk"))
    val scored = broadcast(probes).join(ivfLists(s, d), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", F.cosine_sim(col("qe"), col("ea")))
      .filter(!isnan(col("cosine")))
      .select(col("query_id"), col("lrk"), col("vec_id"), col("cosine"))
    // ALL sweep points in ONE window pass (r19, guide §2.4): the old
    // loop ran, per point, its own top-K window (an exchange + sort
    // each) + hit join + aggregate, unioned — 6 windows, 6 joins,
    // 6 aggregates over the same checkpointed frame. row_number over
    // the lrk ≤ p subset equals the running count of lrk ≤ p rows
    // under the SAME (cosine desc, vec_id) total order — vec_id is
    // unique per query (each vector lives in exactly one list), so
    // there are no peer rows and the identity is exact. All per-point
    // running counts share one window spec ⇒ one exchange and one sort,
    // shared by six stacked Window operators (one per point); the hit
    // join runs once (left, flag-only) and the six (point ∈ top-K ∧ hit)
    // counts collapse into one aggregate.
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = scored
      .join(broadcast(exact.select(col("query_id"),
        col("neighbor_id").as("vec_id"), lit(true).as("is_hit"))),
        Seq("query_id", "vec_id"), "left")
    val withCnt = SweepProbes.foldLeft(flagged) { (df, p) =>
      df.withColumn(s"c$p", sum(when(col("lrk") <= p, 1L)).over(w)) }
    val aggCols = SweepProbes.map { p =>
      coalesce(sum(when(col("lrk") <= p && col(s"c$p") <= K
        && col("is_hit"), 1L)), lit(0L)).as(s"nh$p") }
    val counts = withCnt.agg(aggCols.head, aggCols.tail: _*)
    denom.crossJoin(counts)
      .select(explode(array(SweepProbes.map { p =>
        struct(lit(p).as("n_probe"), lit(NCentroids).as("n_lists"),
          col("n_queries"), lit(K).as("k"), col("n_exact"),
          col(s"nh$p").as("n_hits"),
          (col(s"nh$p").cast("double") / col("n_exact")).as("recall"))
      }: _*)).as("t"))
      .select(col("t.n_probe").as("n_probe"), col("t.n_lists").as("n_lists"),
        col("t.n_queries").as("n_queries"), col("t.k").as("k"),
        col("t.n_exact").as("n_exact"), col("t.n_hits").as("n_hits"),
        col("t.recall").as("recall"))
      .orderBy(col("n_probe"))
  }

  // --- E25: PQ rerank sweep — the second recall dial (round 15) -------------
  // E24's pattern on the OTHER tunable an index operator dials for a
  // recall SLO: recall@K vs the ADC-candidate depth re-ranked exactly
  // (FAISS's k_factor / rerank depth). One table over the staged PQ
  // artifacts: per depth, the pqProbeWith semantics at that depth,
  // scored against the staged exact anchor. Recall is monotone in
  // depth BY CONSTRUCTION — deeper rerank re-ranks a superset of ADC
  // candidates by exact cosine, and a true top-K hit can only be
  // displaced by a higher-cosine vector, which is itself a true hit —
  // so the spec pins monotonicity exactly, and the PqRerank point
  // reproduces knn_pq's result row-identically (same crk ≤ PqRerank
  // candidate set, same cosine kernel, same rank order — the r18
  // shared-scoring restructure below keeps that equivalence).
  //
  // Scale: all depths share the staged codebook/codes and the broadcast
  // anchor; per depth the extra cost over knn_pq is only the rerank
  // fetch width (depth × |queries| vectors). Depths are derived so the
  // sweep always includes the configured operating point, whatever
  // PqRerank is retuned to (the E24 endpoint lesson).
  private val SweepReranks =
    (Seq(8, 16, 32, 64) :+ PqRerank :+ 2 * PqRerank).distinct.sorted
  val rerankSweep = QueryDef.rowsOnly("knn_rerank_sweep") { (s, d) =>
    val exact = exactAnchor(s, d)
    val denom = exact
      .agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_exact"))
      .localCheckpoint()
    val qs = queriesDf(s, d)
    val emb = Tables.embeddings(s, d)
    // ONE ADC ranking for the whole sweep (the candidate sets per depth
    // are nested prefixes of it); each point pays only its rerank fetch
    // + top-K + hit join. |queries| × maxDepth slim rows, eagerly cut.
    // Score the max-depth candidate set ONCE (r18): the old loop
    // re-joined queries + embeddings and recomputed the exact cosines
    // for every depth — 6 × (2 joins + corpus-vector fetch + cosine)
    // over nested candidate PREFIXES of the same ranking. Exact-rerank
    // cosine for a (query, vec) pair is depth-independent, so each
    // depth is now a crk-prefix filter + its own top-K window over one
    // checkpointed scored frame — E24's sharing applied to the other
    // dial. Identical semantics per depth: same candidate set (crk ≤ r),
    // same NaN drop, same (cosine desc, vec_id) rank, same hit join.
    val scoredAll = pqAdcRanked(qs, pqCodebook(s, d), pqCodes(s, d))
      .filter(col("crk") <= SweepReranks.max)
      .select(col("query_id"), col("vec_id"), col("crk"))
      .join(qs, Seq("query_id"))
      .join(emb.select(col("vec_id"), col("embedding").as("ea")),
        Seq("vec_id"))
      .withColumn("cosine", F.cosine_sim(col("qe"), col("ea")))
      .filter(!isnan(col("cosine")))
      .select(col("query_id"), col("vec_id"), col("crk"), col("cosine"))
    // ALL depths in ONE window pass (r19, guide §2.4 — the E24 trick
    // applied here too): row_number over the crk ≤ r prefix equals the
    // running count of crk ≤ r rows under the same (cosine desc,
    // vec_id) total order (vec_id unique per query in the ADC ranking
    // ⇒ no peers). Six per-depth windows + hit joins + aggregates
    // collapse into one exchange/sort shared by six stacked Window
    // operators, one left hit join and one aggregate; the checkpoint
    // goes with them (single consumer now).
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = scoredAll
      .join(broadcast(exact.select(col("query_id"),
        col("neighbor_id").as("vec_id"), lit(true).as("is_hit"))),
        Seq("query_id", "vec_id"), "left")
    val withCnt = SweepReranks.foldLeft(flagged) { (df, r) =>
      df.withColumn(s"c$r", sum(when(col("crk") <= r, 1L)).over(w)) }
    val aggCols = SweepReranks.map { r =>
      coalesce(sum(when(col("crk") <= r && col(s"c$r") <= K
        && col("is_hit"), 1L)), lit(0L)).as(s"nh$r") }
    val counts = withCnt.agg(aggCols.head, aggCols.tail: _*)
    denom.crossJoin(counts)
      .select(explode(array(SweepReranks.map { r =>
        struct(lit(r).as("rerank_depth"), lit(PqRerank).as("operating_depth"),
          col("n_queries"), lit(K).as("k"), col("n_exact"),
          col(s"nh$r").as("n_hits"),
          (col(s"nh$r").cast("double") / col("n_exact")).as("recall"))
      }: _*)).as("t"))
      .select(col("t.rerank_depth").as("rerank_depth"),
        col("t.operating_depth").as("operating_depth"),
        col("t.n_queries").as("n_queries"), col("t.k").as("k"),
        col("t.n_exact").as("n_exact"), col("t.n_hits").as("n_hits"),
        col("t.recall").as("recall"))
      .orderBy(col("rerank_depth"))
  }

  // --- E26: ANN index health — the rebuild trigger (round 17) ---------------
  // A60/A61 keep the servable artifacts fresh under a FROZEN codebook;
  // nothing measured when that assumption decays. This is the report a
  // deployment schedules between rebuilds — the index analogue of the
  // reference's TTL expiry forcing a re-election
  // (CassandraLeaderElection.scala:46-90: staleness is detected and
  // forces a rebuild of the leadership state; here staleness of the
  // codebook forces a rebuild of the index):
  //
  //   - per-list occupancy vs the BUILD-TIME distribution (skew_micro:
  //     a list growing much faster than the index means arrivals
  //     concentrate where the frozen centroids are coarsest);
  //   - assignment drift (drift_micro: mean cosine-to-own-centroid of
  //     build rows minus appended rows — appended vectors sitting
  //     farther from their centroids than the build did means the
  //     codebook no longer describes the arrival distribution);
  //   - a recall canary on the summary row (the CURRENT probe pipeline
  //     scored against the staged exact anchor — the end-to-end number
  //     an index swap is gated on, E23's measurement as a health field).
  //
  // Schema: one row per list plus a cid = -1 summary row (totals,
  // corpus-level drift, the canary). Scale: ONE pass over the lists
  // artifact — map-side cosine against the broadcast codebook, two
  // aggregates — plus the staged-anchor probe; the report is
  // nLists + 1 rows. Approximate-by-contract (the canary inherits ANN
  // recall), so rows+spec: the spec recomputes every field driver-side
  // on a planted frame and cross-checks the canary against the suite's
  // own recall measurement.
  /** The health report over an ARBITRARY lists frame — seam for the
    * planted-drift spec and for running the report against a MAINTAINED
    * generation instead of the staged build.
    */
  private[graft] def indexHealthOver(s: SparkSession, lists: DataFrame,
      cents: IndexedSeq[Array[Float]], isNew: Column,
      exact: DataFrame, approx: DataFrame): DataFrame = {
    import s.implicits._
    val centDf = broadcast(cents.zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }.toDF("cid", "ce"))
    val assigned = lists.join(centDf, Seq("cid"))
      .withColumn("own_cos", F.cosine_sim(col("ea"), col("ce")))
      .filter(!isnan(col("own_cos"))) // zero-norm degenerates carry no signal
      .withColumn("is_new", isNew)
    val perList = assigned.groupBy(col("cid")).agg(
      sum(when(col("is_new"), 0L).otherwise(1L)).as("n_build"),
      count(lit(1)).as("n_now"),
      avg(when(!col("is_new"), col("own_cos"))).as("cos_build"),
      avg(when(col("is_new"), col("own_cos"))).as("cos_new"))
    val totals = assigned.agg(
      sum(when(col("is_new"), 0L).otherwise(1L)).as("t_build"),
      count(lit(1)).as("t_now"),
      avg(when(!col("is_new"), col("own_cos"))).as("tc_build"),
      avg(when(col("is_new"), col("own_cos"))).as("tc_new"))
      .localCheckpoint() // 1 row, consumed by both report halves
    def micro(c: Column): Column = round(c * lit(1000000.0)).cast("long")
    val listRows = perList.crossJoin(broadcast(totals))
      .select(
        col("cid"), col("n_build"), col("n_now"),
        micro(col("n_build").cast("double") /
          greatest(col("t_build"), lit(1L))).as("share_build_micro"),
        micro(col("n_now").cast("double") / col("t_now"))
          .as("share_now_micro"),
        // occupancy growth vs build share; > 1e6 = outgrowing the index
        when(col("n_build") > 0,
          micro((col("n_now").cast("double") / col("t_now")) /
            (col("n_build").cast("double") / col("t_build"))))
          .as("skew_micro"),
        micro(col("cos_build")).as("cos_own_build_micro"),
        micro(col("cos_new")).as("cos_own_new_micro"),
        (micro(col("cos_build")) - micro(col("cos_new"))).as("drift_micro"),
        lit(null).cast("long").as("recall_canary_micro"))
    val denom = broadcast(exact.agg(count(lit(1)).as("n_exact")))
    val hits = approx.select(col("query_id"), col("neighbor_id"))
      .join(broadcast(exact.select(col("query_id"), col("neighbor_id"))),
        Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("n_hits"))
    val summary = totals.crossJoin(denom).crossJoin(hits)
      .select(
        lit(-1L).as("cid"),
        col("t_build").as("n_build"), col("t_now").as("n_now"),
        lit(1000000L).as("share_build_micro"),
        lit(1000000L).as("share_now_micro"),
        lit(null).cast("long").as("skew_micro"),
        micro(col("tc_build")).as("cos_own_build_micro"),
        micro(col("tc_new")).as("cos_own_new_micro"),
        (micro(col("tc_build")) - micro(col("tc_new"))).as("drift_micro"),
        micro(col("n_hits").cast("double") / col("n_exact"))
          .as("recall_canary_micro"))
    summary.unionByName(listRows).orderBy(col("cid"))
  }

  /** Registered report: the A60/A61 maintenance cohort (vec_id % 5 == 0)
    * as "appended since the build", scored over the staged artifacts.
    */
  val indexHealth = QueryDef.rowsOnly("ann_index_health") { (s, d) =>
    indexHealthOver(s, ivfLists(s, d), trainedCentroids(s, d),
      pmod(col("vec_id"), lit(5)) === 0,
      exactAnchor(s, d), ivfFrame(s, d, NProbe))
  }

  // --- E27: generation-store log — the ops view (round 18) ------------------
  // The A60/A61 maintenance loop publishes manifest GENERATIONS (full
  // or delta) with a CAS-guarded pointer; E26 says when the CODEBOOK
  // has decayed — nothing reported what the STORE itself holds: which
  // generation serves, how deep the delta chains run (the read
  // fan-out the maxDeltaChain knob bounds), how many partitions a
  // delta actually rewrote (the publish-IO claim, auditable), and
  // what debris a crashed publisher left. This is that report — the
  // index-store analogue of the reference's listener-registry
  // introspection (CassandraListenerRegistry.scala:28-66 exposes the
  // registered watchers; here the store exposes its servable states).
  //
  // Scale: pure driver-side METADATA — per generation one directory
  // listing plus the two fixed-size sidecars; no data file is ever
  // opened, so cost ∝ generations (a handful, retention-bounded) and
  // is INDEPENDENT of index size — the one query in this suite whose
  // 100 TB plan is identical to its 60 kB plan.
  /** The log over an arbitrary store — seam for the planted-store
    * spec (torn/invalid/chain cases) and for real deployments.
    */
  private[graft] def generationLogOver(s: SparkSession, store: String,
      key: String): DataFrame = {
    import s.implicits._
    graft.FrameCache.generationLog(s, store, key)
      .map(e => (e.genSeq, e.kind, e.depth, e.partitions, e.touched,
        e.baseSeq, e.serving))
      .toDF("gen_seq", "kind", "depth", "partitions", "touched",
        "base_seq", "serving")
  }

  /** The registered run's demo store, staged ONCE per (session,
    * corpus version) through the FrameCache memo: the staged lists
    * publish as the full base, then the two lowest lists re-publish as
    * a CAS-guarded delta over it (the A60 incremental shape). In
    * production the store EXISTS — the maintenance loop is what
    * populates it — so the staging is setup, not the operator;
    * memoizing it keeps the measured query the actual metadata walk.
    * The scratch dirs are removed at JVM exit.
    */
  private def demoGenerationStore(s: SparkSession, d: String): String =
    graft.FrameCache.memo(s, s"sim.ivf.lists.genlog.store:$d") {
      val store = java.nio.file.Files
        .createTempDirectory("graft_genlog_").toString
      sys.addShutdownHook(org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(store)))
      val key = s"sim.ivf.lists.genlog:$d"
      val lists = ivfLists(s, d)
      val lay = graft.FrameCache.Layout(partitionCols = Seq("cid"))
      val p1 = graft.FrameCache.publishGeneration(s, store, key, lists,
        lay, "full")
      val lowCids = cidUnion(lists.select(col("cid"))).take(2)
      graft.FrameCache.publishGeneration(s, store, key,
        lists.filter(col("cid").isin(lowCids: _*)), lay, "delta",
        delta = Some((p1, lowCids.map(_.toString).toSeq)),
        expectedBase = Some(Some(p1)))
      store
    }

  /** Registered report: the metadata log of the staged demo store —
    * the rows are computed driver-side; the returned frame is a
    * LocalRelation with no file dependency.
    */
  val generationLogReport = QueryDef.rowsOnly("ann_generation_log") { (s, d) =>
    generationLogOver(s, demoGenerationStore(s, d),
      s"sim.ivf.lists.genlog:$d")
  }

  def all: Seq[QueryDef] = Seq(
    bruteForce, lsh, ivf, centroids, quantized, activityPairs, outliers,
    maxip, maxipLsh, pq, ivfPq, graph, dimStats, filtered, rangeSearch,
    binary, clustering, hybrid, mmr, classify, labelAffinity, reciprocal,
    recallReport, probeSweep, rerankSweep, indexHealth, generationLogReport)
}
