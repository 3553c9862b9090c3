package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{expressions => F}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication family over `documents` (SURVEY §2.D) — exact,
  * n-gram-Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale architecture (100 TB): every path is bucketed — MinHash bands
  * (D3), SimHash bands (D4) and SRP bands (D5) turn O(n²) into
  * per-bucket equi-joins whose keys are shuffle keys, with AQE
  * skew-join handling hot buckets. Exact verification only touches candidate pairs. D2b is
  * the production form of the exact path: it caps shingle document
  * frequency before the join and bounds away the dropped mass, so the
  * O(df²) hot keys never reach the shuffle.
  */
object Dedup {

  /** Word tokens — native TokenizeWords kernel, semantics equal to the
    * oracle's regexp_extract_all(lower(text), '[a-z0-9]+').
    */
  private def tokens(c: Column): Column = F.tokenize_words(c)

  /** doc_id, shingles(array<string>), n (=|shingle set|). Native
    * Shingles3 kernel: one codegen call, cheap for Catalyst to clone
    * into inferred join-side filters (the HOF formulation of this was
    * the dedup-family bottleneck).
    *
    * Cached + persisted ONCE per (session, sf dir): the corpus-wide
    * tokenize+shingle scan is the shared input of the whole dedup
    * family (D2/D2b/D3/D6/D7/D8, streaming A19), and every consumer
    * reads it at least twice (self-join branches, candidate verify).
    * At warehouse scale this intermediate is a staging table; here the
    * block cache plays that role. One copy, session lifetime, LRU
    * evictable (MEMORY_AND_DISK).
    */
  private[graft] def shingled(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s, s"dedup.shingled:$d") {
      // ingest-spread before the tokenize+shingle kernel: the cached
      // partitions inherit the full executor width, so EVERY dedup-
      // family consumer (pair joins, verifies, signatures) reads a
      // wide frame instead of the one-partition local scan
      Tables.spread(Tables.documents(s, d), s, "doc_id")
        .withColumn("shingles", F.shingles3(F.tokenize_words(col("text"))))
        .select(col("doc_id"), col("shingles"), size(col("shingles")).as("n"))
    }

  private val shingleSql =
    """toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |         FROM documents),
      |sh AS (SELECT doc_id,
      |         list_distinct([array_to_string(t[i:i+2], ' ')
      |                        FOR i IN range(1, len(t) - 1)]) AS s
      |       FROM toks)""".stripMargin

  /** Exact-Jaccard pair SQL over the shingle sets at threshold τ. */
  private def jaccardPairsSql(tau: Double): String =
    s"""WITH $shingleSql,
      |ex AS (SELECT doc_id, unnest(s) AS shingle, len(s) AS n FROM sh),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter,
      |                 any_value(a.n) AS na, any_value(b.n) AS nb
      |          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT doc_a, doc_b, CAST(inter AS DOUBLE)/(na + nb - inter) AS jaccard
      |FROM pairs WHERE CAST(inter AS DOUBLE)/(na + nb - inter) >= $tau
      |ORDER BY doc_a, doc_b""".stripMargin

  // --- D1: exact dedup (hash-groupBy on normalized content) ---------------
  // One shuffle on the 128-bit content hash; keeper = min doc_id.
  val exact = QueryDef.oracled(
    "dedup_exact",
    """SELECT md5(trim(regexp_replace(lower(text), '[ \t\n\f\r]+', ' ', 'g'))) AS content_hash,
      |       min(doc_id) AS keeper_doc_id, count(*) AS n_docs
      |FROM documents
      |GROUP BY 1 ORDER BY keeper_doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "[ \\t\\n\\f\\r]+", " ")))
          .as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_docs"))
  }

  /** Exact-Jaccard candidate pairs via the shared-shingle inverted index:
    * explode shingle sets, self-equi-join on shingle (ONE shuffle on the
    * shingle key), count shared per pair. This is the exact baseline;
    * D3 is the sub-quadratic path.
    */
  private def jaccardPairs(s: SparkSession, d: String, tau: Double): DataFrame = {
    // join on the 64-bit shingle hash, not the ~20-byte string: same
    // intersection counts (collision odds ~|shingles|²/2⁶⁵), far fewer
    // shuffle bytes — the difference between shipping text and shipping
    // fixed-width keys at warehouse scale. Both self-join branches
    // re-explode from the CACHED shingle frame (cheap column fan-out,
    // no re-tokenization, no parquet re-scan) — no second persist, so
    // repeated invocations don't pile up never-unpersisted copies.
    val ex = shingled(s, d)
      .select(col("doc_id"), col("n"), explode(col("shingles")).as("shingle"))
      .select(col("doc_id"), col("n"), xxhash64(col("shingle")).as("sh"))
    val a = ex.select(col("doc_id").as("doc_a"), col("n").as("na"), col("sh"))
    val b = ex.select(col("doc_id").as("doc_b"), col("n").as("nb"), col("sh"))
    a.join(b, Seq("sh")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"), first(col("na")).as("na"),
        first(col("nb")).as("nb"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Staged exact τ=0.8 pair frame — the dedup family's ground-truth
    * anchor (round 15), the D-side twin of `sim.exactAnchor`: D2's
    * result, built once per session (and a persisted artifact with the
    * index dir set), read by D2 itself and by the D26 banding sweep's
    * recall scoring.
    */
  private[graft] def exactPairs(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s, s"dedup.exactPairs:$d:0.8") {
      jaccardPairs(s, d, 0.8)
    }

  // --- D2: exact n-gram Jaccard at τ = 0.8 --------------------------------
  val ngramJaccard = QueryDef.oracled(
    "dedup_ngram_jaccard", jaccardPairsSql(0.8)) { (s, d) =>
    exactPairs(s, d)
  }

  // --- D16: n-gram CONTAINMENT at τ = 0.9 (round 10) ------------------------
  // The quoted-subset detector Jaccard misses: C = |A∩B| / min(|A|,|B|)
  // flags a small doc embedded in a much larger one (boilerplate quote,
  // aggregation page, licence block) even though the union term drowns
  // the symmetric score. Same ONE-shuffle inverted-index shape as D2 —
  // identical pair-intersection aggregate, different admission formula;
  // the direction (contained vs container) is decided by set size with
  // the pair's doc_id order breaking exact-size ties. At warehouse
  // scale this rides the D2b DF-capped index + containment upper bound
  // (inter_c + min(hot) over min(n)) exactly as Jaccard does — the
  // capped machinery is admission-formula-agnostic.
  private val ContainTau = 0.9
  val containment = QueryDef.oracled(
    "dedup_containment",
    s"""WITH $shingleSql,
      |ex AS (SELECT doc_id, unnest(s) AS shingle, len(s) AS n FROM sh),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter,
      |                 any_value(a.n) AS na, any_value(b.n) AS nb
      |          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS contained_doc,
      |       CASE WHEN na <= nb THEN doc_b ELSE doc_a END AS container_doc,
      |       inter, least(na, nb) AS n_contained,
      |       CAST(inter AS DOUBLE)/least(na, nb) AS containment
      |FROM pairs WHERE CAST(inter AS DOUBLE)/least(na, nb) >= $ContainTau
      |ORDER BY contained_doc, container_doc""".stripMargin) { (s, d) =>
    val ex = shingled(s, d)
      .select(col("doc_id"), col("n"), explode(col("shingles")).as("shingle"))
      .select(col("doc_id"), col("n"), xxhash64(col("shingle")).as("sh"))
    val a = ex.select(col("doc_id").as("doc_a"), col("n").as("na"), col("sh"))
    val b = ex.select(col("doc_id").as("doc_b"), col("n").as("nb"), col("sh"))
    a.join(b, Seq("sh")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"), first(col("na")).as("na"),
        first(col("nb")).as("nb"))
      .withColumn("containment",
        col("inter").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= ContainTau)
      .select(
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b"))
          .as("contained_doc"),
        when(col("na") <= col("nb"), col("doc_b")).otherwise(col("doc_a"))
          .as("container_doc"),
        col("inter"), least(col("na"), col("nb")).as("n_contained"),
        col("containment"))
  }

  // --- D16b: the warehouse-scale capped-containment path (round 11) --------
  // The twin D16's §2 row promised: D2b's DF-capped inverted index with
  // the CONTAINMENT admission bound. Dropped (hot) shingles can add at
  // most min(hot_a, hot_b) to the intersection, so
  //   C ≤ (inter_c + min(hot_a, hot_b)) / min(na, nb)
  // — only bound-clearing pairs get the exact full-set verification,
  // and reported (inter, containment) are exact. Completeness boundary
  // is D2b's verbatim (a qualifying pair is missed iff every shared
  // shingle is hot); the capped machinery is admission-formula-
  // agnostic, which this operator now demonstrates in code rather than
  // prose. Oracle = D16's exact uncapped SQL — the same
  // equality-under-the-cost-model argument that oracles D2b, checked
  // at every driver SF; [[graft.DedupSpec]] additionally pins that the
  // cap drops only super-threshold-DF shingles.
  val containmentCapped = QueryDef.oracled(
    "dedup_containment_capped",
    s"""WITH $shingleSql,
      |ex AS (SELECT doc_id, unnest(s) AS shingle, len(s) AS n FROM sh),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter,
      |                 any_value(a.n) AS na, any_value(b.n) AS nb
      |          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS contained_doc,
      |       CASE WHEN na <= nb THEN doc_b ELSE doc_a END AS container_doc,
      |       inter, least(na, nb) AS n_contained,
      |       CAST(inter AS DOUBLE)/least(na, nb) AS containment
      |FROM pairs WHERE CAST(inter AS DOUBLE)/least(na, nb) >= $ContainTau
      |ORDER BY contained_doc, container_doc""".stripMargin) { (s, d) =>
    // containment bound: dropped shingles add at most min(hot) to the
    // intersection → C ≤ (inter_c + min(hot)) / min(na, nb)
    val bounded = cappedPairStats(s, d)
      .withColumn("ub", (col("inter_c") + least(col("hot_a"), col("hot_b")))
        .cast("double") / least(col("na"), col("nb")))
      .filter(col("ub") >= ContainTau)
    verifiedInter(s, d, bounded)
      .withColumn("containment",
        col("inter").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= ContainTau)
      .select(
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b"))
          .as("contained_doc"),
        when(col("na") <= col("nb"), col("doc_b")).otherwise(col("doc_a"))
          .as("container_doc"),
        col("inter"), least(col("na"), col("nb")).as("n_contained"),
        col("containment"))
  }

  /** Single source of truth for the MinHash signature geometry: the
    * kernel's permutation count (asserted against [[HashImpl.NumPerms]]
    * so a kernel retune can't silently skew D24's ĵ = agree/NumHashes)
    * and the 32-band × 4-row LSH banding derived from it. Changing
    * NumBands re-derives [[bandListExpr]] AND D24's estimator divisor
    * together — the drift the r14 advice flagged.
    */
  private[graft] val NumHashes: Int = graft.functions.HashImpl.NumPerms
  private[graft] val NumBands = 32
  private[graft] val BandRows: Int = NumHashes / NumBands
  require(NumBands * BandRows == NumHashes,
    s"LSH banding $NumBands x $BandRows must tile the $NumHashes-perm signature")

  /** Bucket-id list over a `sig` MinHash column for an arbitrary
    * bands × rows banding (must tile the signature) — the geometry
    * D26 sweeps; the operating banding's expression is derived from
    * it below.
    */
  private[graft] def bandListExprFor(bands: Int, rows: Int): String = {
    require(bands * rows == NumHashes,
      s"banding $bands x $rows must tile the $NumHashes-perm signature")
    val cells = (0 until rows)
      .map(i => s"cast(sig[$rows*b+$i] AS STRING)").mkString(", ")
    s"""transform(sequence(0, ${bands - 1}), b -> concat_ws(':',
       |  cast(b AS STRING), $cells))""".stripMargin
  }

  /** 32-band × 4-row bucket-id list over a `sig` MinHash column —
    * shared by D3 and the streaming ingest twin
    * ([[graft.streaming.Streaming]] A19). Derived from the geometry
    * constants above.
    */
  private[graft] val bandListExpr: String = bandListExprFor(NumBands, BandRows)

  /** Exact-Jaccard ≥ τ verification of candidate (doc_a, doc_b) pairs
    * against the full shingle sets — the post-LSH verify stage, shared
    * with the streaming twin.
    */
  private[graft] def verifyPairs(s: SparkSession, d: String,
      cand: DataFrame, tau: Double): DataFrame = {
    val sets = shingled(s, d)
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shingles").as("sa"),
        col("n").as("na")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("shingles").as("sb"),
        col("n").as("nb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** The D2 exact-Jaccard oracle at τ=0.8 — also the oracle of the LSH
    * paths (D3, streaming A19), whose miss probability ≈ 5e-8 makes
    * their output equal to the exact answer.
    */
  private[graft] val jaccard08OracleSql: String = jaccardPairsSql(0.8)

  // --- D3: MinHash + LSH, exact-verified ----------------------------------
  // 128-perm MinHash signatures (native MinHashSigs expression), 32
  // bands × 4 rows → P(miss | j=0.8) = (1-0.8⁴)³² ≈ 5e-8. Candidates
  // from band-bucket self-join; exact Jaccard ≥ 0.8 verification on
  // candidates only. Output ≡ D2 → oracled by the same exact SQL.
  /** Band-bucket self-join → distinct candidate pairs (doc_a < doc_b).
    * The bucket string is the shuffle key, so a boilerplate-heavy
    * corpus concentrates in few buckets; a pathological hot bucket is
    * split by AQE skew-join rather than serializing one reducer —
    * spec-forced in [[graft.DedupSkewSpec]] with a planted 10%-hot
    * bucket.
    */
  private[graft] def bandCandidates(bands: DataFrame): DataFrame =
    bands.as("x")
      .join(bands.as("y"), Seq("bucket"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

  val minhashLsh = QueryDef.oracled(
    "dedup_minhash_lsh", jaccardPairsSql(0.8)) { (s, d) =>
    val sets = shingled(s, d) // cached+persisted by the shared loader
    val sh = sets.filter(col("n") > 0)
      .withColumn("sig", F.minhash_sigs(col("shingles")))
    val bands = sh.select(col("doc_id"),
        explode(expr(bandListExpr)).as("bucket"))
    val cand = bandCandidates(bands)
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shingles").as("sa"),
        col("n").as("na")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("shingles").as("sb"),
        col("n").as("nb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  // --- D24: MinHash estimator quality — the eval layer for the dedup
  // index (round 14). E23/E24 grade the ANN index; this grades the
  // MinHash sketch the same way: per banded candidate pair, the
  // signature-agreement estimate ĵ = matches/128 next to the exact
  // Jaccard and the absolute error — the table a dedup operator reads
  // before trusting ĵ as a pre-filter (or tuning bands/rows), instead
  // of taking the 1/√128 textbook bound on faith. Candidates come from
  // the SAME banded self-join D3 verifies (the population the verify
  // stage actually sees), so the report prices the estimator exactly
  // where it is used.
  //
  // Scale: banded candidates (never all-pairs), two doc-keyed
  // signature joins (128×8 B per doc), one candidate-bounded set-pair
  // join for the exact side — the D3 verify cost, plus nothing.
  // rows+spec (the estimate needs the native MinHash kernel — no
  // DuckDB replica; the spec replays both columns driver-side from the
  // raw shingle sets and pins the estimator's error bounds).
  val minhashQuality = QueryDef.rowsOnly("dedup_minhash_quality") { (s, d) =>
    val sets = shingled(s, d)
    val sh = sets.filter(col("n") > 0)
      .withColumn("sig", F.minhash_sigs(col("shingles")))
    val sigs = sh.select(col("doc_id"), col("sig"))
    val cand = bandCandidates(sh.select(col("doc_id"),
      explode(expr(bandListExpr)).as("bucket")))
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("siga")),
        Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sigb")),
        Seq("doc_b"))
      .withColumn("n_agree", expr(
        "size(filter(zip_with(siga, sigb, (x, y) -> x = y), b -> b))"))
      .join(sets.select(col("doc_id").as("doc_a"), col("shingles").as("sa"),
        col("n").as("na")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("shingles").as("sb"),
        col("n").as("nb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .withColumn("est", col("n_agree").cast("double") / NumHashes)
      .select(col("doc_a"), col("doc_b"), col("n_agree"), col("est"),
        col("jaccard"), abs(col("est") - col("jaccard")).as("abs_err"))
  }

  // --- D25: shingle document-frequency profile (round 14) --------------------
  // The tuning input for EVERY capped/banded dial in this family: a
  // log2 histogram of shingle document frequencies (per bucket:
  // distinct shingles, total postings, min/max df, postings share) —
  // what an operator reads to pick D2b/D16b's MaxDf, to size
  // LSH band buckets, and to predict the O(df²) pair mass a hot
  // shingle would generate, BEFORE running any pair join. B53's
  // key-skew histogram pointed at the shingle index instead of the
  // event keyspace (shared keySkewRows body + oracle shape).
  //
  // Scale: the df rollup is ONE map-side-combinable groupBy on the
  // shingle (the aggregate any engine pays to know its index), the
  // histogram collapses to ≤ 64 rows with map-side partials — the
  // profile you run before choosing the dials cannot itself blow up
  // on the skew it measures.
  val dfProfile = QueryDef.oracled(
    "dedup_df_profile",
    s"""WITH $shingleSql,
      |ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
      |c AS (SELECT shingle, count(*) AS cnt FROM ex GROUP BY 1),
      |h AS (SELECT CAST(length(bin(cnt)) AS INTEGER) AS bucket,
      |             count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
      |             min(cnt) AS min_cnt, max(cnt) AS max_cnt
      |      FROM c GROUP BY 1)
      |SELECT bucket, n_keys, n_rows, min_cnt, max_cnt,
      |       CAST(n_rows AS DOUBLE) / CAST(sum(n_rows) OVER () AS BIGINT)
      |         AS share
      |FROM h ORDER BY bucket""".stripMargin) { (s, d) =>
    graft.queries.Analytics.keySkewRows(
      shingled(s, d).select(explode(col("shingles")).as("shingle"))
        .groupBy(col("shingle")).agg(count(lit(1)).as("cnt")))
  }

  // --- D26: LSH banding sweep — the dedup index's tuning curve (round 15) ---
  // Completes the dial-sweep trilogy (E24 sweeps nProbe, E25 sweeps
  // rerank depth): the bands × rows geometry is THE MinHash-LSH cost/
  // recall dial, and this sweeps it as one table — per banding, the
  // candidate-pair mass the band join would generate (the verify-stage
  // cost an operator pays) next to how many true τ=0.8 pairs the
  // banding catches (recall vs the staged exact-pair anchor) and the
  // textbook catch probability 1−(1−τ^r)^b. What an operator reads,
  // WITH D25's df profile, before committing a banding to a 100 TB
  // dedup run.
  //
  // The swept bandings are NESTED (rows halving, all tiling the
  // 128-perm signature): a pair agreeing on a 2r-row band agrees on
  // both its r-row halves, so candidates(b×2r) ⊆ candidates(2b×r) —
  // candidate mass AND caught-pair counts are monotone in the banding
  // BY CONSTRUCTION, which the spec pins exactly (the E25 argument,
  // geometry edition). The operating banding is always a sweep point
  // (derived, the E24 endpoint lesson).
  //
  // Scale: signatures compute once off the staged shingle frame
  // (localCheckpointed — |docs| × 128×8 B); per banding ONE bucket
  // self-join (the D3 candidate cost at that geometry — the sweep
  // prices exactly what it measures); the truth side is the staged
  // exact-pair anchor; per-banding aggregates union into a |bandings|-
  // row report. rows+spec (signatures need the native kernel — no
  // DuckDB replica).
  // Derived from the kernel geometry, not hardcoded 128-perm literals
  // (the E24/E25 endpoint lesson, geometry edition): successive
  // halvings of the operating BandRows — 4r, 2r, r, r/2 — filtered to
  // valid tilings, so retuning HashImpl.NumPerms moves the whole sweep
  // with it instead of failing bandListExprFor's tiling require at
  // query time. The operating banding is the `r` point by construction.
  private[graft] val SweepBandings: Seq[(Int, Int)] =
    Seq(4 * BandRows, 2 * BandRows, BandRows, BandRows / 2)
      .filter(r => r >= 1 && NumHashes % r == 0)
      .map(r => (NumHashes / r, r))
      .distinct.sortBy(-_._2)
  val bandingSweep = QueryDef.rowsOnly("dedup_banding_sweep") { (s, d) =>
    val sigs = shingled(s, d).filter(col("n") > 0)
      .withColumn("sig", F.minhash_sigs(col("shingles")))
      .select(col("doc_id"), col("sig"))
      .localCheckpoint() // |docs| rows × 1 KB
    val truth = exactPairs(s, d).select(col("doc_a"), col("doc_b"))
    val denom = truth.agg(count(lit(1)).as("n_true")).localCheckpoint()
    // ONE bucket self-join, at the WIDEST banding — by nesting, every
    // sweep point's candidate set is a subset of it — then each
    // geometry's candidacy is a map-side agreement predicate over the
    // joined signature pair (a banding admits a pair iff some aligned
    // r-row run of the signatures agrees end-to-end). Four self-joins
    // become one (round 15); the spec independently recomputes two
    // geometries through the per-banding join path and pins equal
    // counts, so the two plans check each other.
    val widest = SweepBandings.minBy(_._2)
    val base = bandCandidates(sigs.select(col("doc_id"),
      explode(expr(bandListExprFor(widest._1, widest._2))).as("bucket")))
    val withSigs = base
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("siga")),
        Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sigb")),
        Seq("doc_b"))
      .join(truth.withColumn("is_true", lit(true)), Seq("doc_a", "doc_b"),
        "left")
      .select(col("siga"), col("sigb"),
        coalesce(col("is_true"), lit(false)).as("is_true"))
    // ALL geometries in ONE aggregate (r19 — the conditional-
    // aggregation trick of the other sweeps): each banding's candidacy
    // is already a map-side predicate over the joined signature pair,
    // so the per-geometry filter+aggregate+union (and the checkpoint
    // the 4 passes needed) collapse into 4×2 conditional sums over a
    // single pass of the widest-banding candidates.
    def isCand(b: Int, r: Int) = expr(
      s"""exists(sequence(0, ${b - 1}), i ->
         |  size(filter(sequence(0, ${r - 1}),
         |    j -> siga[i*$r+j] = sigb[i*$r+j])) = $r)""".stripMargin)
    val aggs = SweepBandings.flatMap { case (b, r) => Seq(
      coalesce(sum(when(isCand(b, r), 1L)), lit(0L)).as(s"nc_${b}_$r"),
      coalesce(sum(when(isCand(b, r) && col("is_true"), 1L)), lit(0L))
        .as(s"ng_${b}_$r")) }
    val row = withSigs.agg(aggs.head, aggs.tail: _*)
    denom.crossJoin(row)
      .select(explode(array(SweepBandings.map { case (b, r) =>
        struct(lit(b).as("bands"), lit(r).as("rows_per_band"),
          col(s"nc_${b}_$r").as("n_candidates"), col("n_true"),
          col(s"ng_${b}_$r").as("n_caught"),
          when(col("n_true") === 0, lit(null).cast("double"))
            .otherwise(col(s"ng_${b}_$r").cast("double") / col("n_true"))
            .as("recall"),
          lit(1.0 - math.pow(1.0 - math.pow(0.8, r), b))
            .as("p_catch_at_tau"))
      }: _*)).as("t"))
      .select(col("t.bands").as("bands"),
        col("t.rows_per_band").as("rows_per_band"),
        col("t.n_candidates").as("n_candidates"), col("t.n_true").as("n_true"),
        col("t.n_caught").as("n_caught"), col("t.recall").as("recall"),
        col("t.p_catch_at_tau").as("p_catch_at_tau"))
      .orderBy(col("rows_per_band").desc)
  }

  // --- D2b: the warehouse-scale exact-Jaccard path ------------------------
  // Same answer as D2, different cost model: shingles occurring in more
  // than MaxDf documents (boilerplate) are dropped from the *index*
  // before the pair join — the O(df²) blowup lives entirely in those
  // hot keys — and surviving candidate pairs are re-verified against
  // the FULL shingle sets, so reported Jaccard is exact. Completeness
  // boundary, stated precisely: a τ=0.8 pair is missed iff EVERY
  // shingle it shares is hot — i.e. a near-duplicate cluster wider
  // than MaxDf documents, whose shared shingles are all df > MaxDf by
  // membership alone. That is the deliberate cost model of the
  // DF-capped path (boilerplate ≠ content duplication; exact dups are
  // D1's job upstream, and a deployment sizes MaxDf above its largest
  // legitimate dup cluster). The spec checks equality with D2 on the
  // corpus, and the oracle (= D2's exact SQL) holds at every driver SF
  // — both turn red, by design, if a corpus ever violates the cost
  // model rather than silently under-reporting.
  private val MaxDf = 100
  // output ≡ D2 (spec-checked) → oracled by the same exact-Jaccard SQL,
  // the argument that already oracles the LSH paths (D3, A19)
  // the capped index feeds both pair-join sides — shared-cached like
  // the shingle frame (ONE copy per (session, dir), evicted with the
  // session), so repeated invocations never pile up persisted copies
  private def cappedIndex(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s, s"dedup.cappedIdx:$d:$MaxDf") {
      val ex = shingled(s, d)
        .select(col("doc_id"), explode(col("shingles")).as("shingle"))
        .select(col("doc_id"), xxhash64(col("shingle")).as("sh"))
      val hot = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .filter(col("df") > MaxDf).select(col("sh"))
      ex.join(broadcast(hot), Seq("sh"), "left_anti")
    }

  /** The admission-formula-agnostic capped-candidate core shared by
    * D2b (Jaccard) and D16b (containment): per-pair capped shared
    * counts (`inter_c`, ONE shuffle on the shingle hash, fan-out ≤
    * cap² per key) joined with each side's full set size and capped-out
    * count — `(doc_a, doc_b, inter_c, na, nb, hot_a, hot_b)`. Callers
    * apply their own upper bound, then verify survivors exactly via
    * [[verifiedInter]]. (AQE picks broadcast for the meta joins when
    * small; at warehouse scale they hash-shuffle.)
    */
  private def cappedPairStats(s: SparkSession, d: String): DataFrame = {
    val sets = shingled(s, d) // cached+persisted by the shared loader
    val idx = cappedIndex(s, d)
    val interCapped = idx.select(col("doc_id").as("doc_a"), col("sh"))
      .join(idx.select(col("doc_id").as("doc_b"), col("sh")), Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter_c"))
    // per-doc: full set size and how many of its shingles were capped out
    val meta = sets.select(col("doc_id"), col("n"))
      .join(idx.groupBy(col("doc_id")).agg(count(lit(1)).as("n_capped")),
        Seq("doc_id"), "left")
      .na.fill(0, Seq("n_capped"))
      .withColumn("n_hot", col("n") - col("n_capped"))
    interCapped
      .join(meta.select(col("doc_id").as("doc_a"), col("n").as("na"),
        col("n_hot").as("hot_a")), Seq("doc_a"))
      .join(meta.select(col("doc_id").as("doc_b"), col("n").as("nb"),
        col("n_hot").as("hot_b")), Seq("doc_b"))
  }

  /** Exact full-shingle-set intersection for bound-clearing candidate
    * pairs — adds `inter` (long). Shared verify stage of D2b and D16b.
    */
  private def verifiedInter(s: SparkSession, d: String,
      cand: DataFrame): DataFrame = {
    val sets = shingled(s, d)
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shingles").as("sa")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("shingles").as("sb")),
        Seq("doc_b"))
      .withColumn("inter",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .drop("sa", "sb")
  }

  /** The DF-capped exact-Jaccard pair pipeline (D2b's body, shared):
    * capped candidate core → Jaccard upper bound → exact full-set
    * verification. Output == [[jaccardPairs]] under D2b's stated cost
    * model (spec-checked); cost excludes the O(df²) hot keys. Also the
    * pair-graph feed of [[clusterLabels]] — at warehouse scale the CC
    * build MUST run on the capped graph or the boilerplate keys alone
    * blow up its first join.
    */
  private def cappedJaccardPairs(s: SparkSession, d: String,
      tau: Double): DataFrame = {
    // Jaccard upper bound: dropped shingles can add at most
    // min(hot_a, hot_b) to the intersection. Only pairs whose bound
    // clears τ get the exact array verification — everything else is
    // decided by the aggregate counts alone.
    val bounded = cappedPairStats(s, d)
      .withColumn("min_hot", least(col("hot_a"), col("hot_b")))
      .withColumn("ub", (col("inter_c") + col("min_hot")).cast("double")
        / (col("na") + col("nb") - col("inter_c") - col("min_hot")))
      .filter(col("ub") >= tau)
    verifiedInter(s, d, bounded)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  val ngramJaccardCapped = QueryDef.oracled(
    "dedup_ngram_jaccard_capped", jaccardPairsSql(0.8)) { (s, d) =>
    cappedJaccardPairs(s, d, 0.8)
  }

  // --- D4: SimHash banded near-dup ----------------------------------------
  // 64-bit SimHash (native SimHash64 expression) over the token
  // multiset; 4 bands × 16 bits guarantee recall for hamming ≤ 3
  // (pigeonhole: ≤3 differing bits leave ≥1 identical band) — so the
  // banded output EQUALS brute-force hamming ≤ 3 (also spec-checked),
  // and the oracle replays the full kernel in DuckDB uint64 SQL:
  // fingerprint64 char fold → splitmix64 avalanche (the three
  // constants below are its public-domain increment/multipliers) →
  // per-bit votes → brute-force pair hamming.
  /** The D4 kernel replay parameterized by the token source: given a
    * `toks(doc_id, tok)` CTE body, replays fingerprint64 → splitmix64 →
    * per-bit votes → brute-force pair hamming ≤ 3 in DuckDB uint64 SQL.
    * Shared by D4 (word tokens) and F4 media_phash (payload char
    * 4-grams) so the two oracles cannot drift.
    */
  private[graft] def simhashPairsOracleSql(toksCte: String): String =
    s"""WITH ${simhashPairsCteSql(toksCte)}
      |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  /** The CTE chain of [[simhashPairsOracleSql]] WITHOUT the `WITH`
    * keyword or final SELECT — terminal CTE is `pairs(doc_a, doc_b,
    * hamming)` (UNFILTERED hamming; add `WHERE hamming <= 3`). Lets F5
    * compose the same replay under a `WITH RECURSIVE` reachability.
    */
  private[graft] def simhashPairsCteSql(toksCte: String): String = {
      val (_, z2, z3, h) = U64Sql.mix64Stages("h0")
      val two64 = U64Sql.two64
      s"""toks AS (
        |  $toksCte),
        |fp AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |      list_transform(regexp_extract_all(tok, '[\\s\\S]'), c -> CAST(ord(c) AS HUGEINT))),
        |      (a, c) -> (a*31 + c) % $two64) AS h0
        |  FROM toks),
        |s1 AS (SELECT doc_id, (h0 + CAST('11400714819323198485' AS HUGEINT)) % $two64 AS z1 FROM fp),
        |s2 AS (SELECT doc_id, $z2 AS z2 FROM s1),
        |s3 AS (SELECT doc_id, $z3 AS z3 FROM s2),
        |s4 AS (SELECT doc_id, $h AS h FROM s3),
        |votes AS (
        |  SELECT doc_id, b, sum(CASE WHEN h // CAST(power(2, b) AS HUGEINT) % 2 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM s4, range(0, 64) t(b) GROUP BY doc_id, b),
        |sg AS (
        |  SELECT doc_id, ${U64Sql.signed("sum(CASE WHEN v > 0 THEN CAST(power(2, b) AS HUGEINT) ELSE CAST(0 AS HUGEINT) END)")} AS s
        |  FROM votes GROUP BY doc_id),
        |-- token-less documents (no [a-z0-9] at all) vanish from the
        |-- unnest chain but simhash64(empty) = 0 on the engine side:
        |-- keep them with sig 0 or an all-punctuation pair would be
        |-- present in Spark output and absent here
        |sig AS (
        |  SELECT d.doc_id, coalesce(sg.s, CAST(0 AS BIGINT)) AS s
        |  FROM documents d LEFT JOIN sg USING (doc_id)),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id)""".stripMargin
  }

  /** 4×16-bit banded hamming ≤ 3 pairs over a (doc_id, sig) frame —
    * pigeonhole-complete (≤3 differing bits leave ≥1 identical band).
    * Shared by D4 and F4.
    */
  private[graft] def bandedSimhashPairs(sigs: DataFrame): DataFrame = {
    val bands = sigs.select(col("doc_id"), col("sig"),
      explode(expr(
        "transform(sequence(0, 3), b -> concat_ws(':', cast(b AS STRING), cast(shiftrightunsigned(sig, 16*b) & 65535 AS STRING)))"))
        .as("bucket"))
    // hamming filter BEFORE the pair distinct: hamming is a function of
    // the pair, so filter∘distinct ≡ distinct∘filter — but almost every
    // band-collision candidate fails hamming ≤ 3, so filtering first
    // shrinks the distinct's exchange from all-candidates to survivors
    // (guide §2.3, shuffle fewer bytes; r18)
    bands.as("x").join(bands.as("y"), Seq("bucket"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.sig ^ y.sig)").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
  }

  val simhash = QueryDef.oracled(
    "dedup_simhash", simhashPairsOracleSql(
      """SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |  FROM documents""".stripMargin)) { (s, d) =>
    bandedSimhashPairs(Tables.documents(s, d)
      .withColumn("t", tokens(col("text")))
      .select(col("doc_id"), F.simhash64(col("t")).as("sig")))
  }

  // --- D5: embedding-cosine near-dup, SRP-LSH bucketed --------------------
  // Banded signed-random-projection LSH (Charikar STOC'02) + exact
  // verify — the same candidate-generation shape as D3's minhash bands:
  // bucket id is the shuffle key, the band self-join is an equi-join
  // (never a nested-loop cartesian), and CosineSim re-verifies every
  // candidate so reported pairs are exact.
  //
  // Parameters are τ-driven: p_bit(τ) = 1 − acos(τ)/π = 0.6486 at
  // τ = 0.45, so a 4-bit band matches a qualifying pair w.p.
  // 0.6486⁴ = 0.177 and 96 tables give P(miss) = (1−0.177)⁹⁶ ≈ 7.5e-9
  // per pair (D3-grade confidence; the oracle stays the exact SQL).
  // 96×4 = 384 signature bits = six seeded 64-bit SRP signatures.
  // Cost scales with τ: this low τ sits near the random-pair cosine
  // background (dim=64 ⇒ σ≈0.125), forcing coarse 4-bit bands — at a
  // real near-dup threshold (τ ≥ 0.8, p_bit = 0.80) the same code runs
  // 16-bit bands / 16 tables and prunes ~2¹⁶× harder. τ = 0.45 is
  // calibrated to the synthetic distribution (max off-diagonal ≈ 0.51).
  private val EmbTau = 0.45
  private val EmbTables = 96
  private val EmbBandBits = 4
  /** Banded SRP candidate pairs over any (vec_id, embedding) frame —
    * the (τ, tables, bandBits) family one configuration of which is
    * D5. Bands carry only (vec_id, int bucket) through the shuffle;
    * fan-out per vector = `tables`.
    */
  private[graft] def embeddingCandidates(e: DataFrame,
      tables: Int, bandBits: Int): DataFrame = {
    val bands = e
      .withColumn("sigs", F.srpSigsArray(col("embedding"), tables, bandBits))
      .select(col("vec_id"),
        explode(expr(F.srpBandBucketsExpr("sigs", tables, bandBits)))
          .as("bucket"))
    bands.as("x").join(bands.as("y"), Seq("bucket"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
  }

  /** Candidates + exact cosine-≥-τ verification with vector re-fetch
    * by equi-join. τ≥0.8 near-dup corpora run the cheap configuration
    * (16 tables × 16-bit bands: 6× smaller fan-out, ~2¹²× harder
    * per-band pruning than D5's τ=0.45 96×4) — spec-exercised on a
    * planted-duplicate corpus.
    */
  private[graft] def embeddingNearDup(e: DataFrame, tau: Double,
      tables: Int, bandBits: Int): DataFrame =
    embeddingCandidates(e, tables, bandBits)
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")),
        Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")),
        Seq("vec_b"))
      .withColumn("cosine", F.cosine_sim(col("ea"), col("eb")))
      // NaN (zero-norm degenerate vector) sorts above every number in
      // both engines and would pass the threshold — exclude explicitly
      .filter(col("cosine") >= tau && !isnan(col("cosine")))
      .select(col("vec_a"), col("vec_b"), col("cosine"))

  val embedding = QueryDef.oracled(
    "dedup_embedding",
    """WITH p AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(list_zip(a.embedding, b.embedding),
      |                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
      |      (x, y) -> x + y) AS dot,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |      (x, y) -> x + y) AS na,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |      (x, y) -> x + y) AS nb
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, dot/(sqrt(na)*sqrt(nb)) AS cosine
      |FROM p WHERE dot/(sqrt(na)*sqrt(nb)) >= 0.45
      |  AND NOT isnan(dot/(sqrt(na)*sqrt(nb)))
      |ORDER BY vec_a, vec_b""".stripMargin) { (s, d) =>
    // bands carry only (vec_id, int bucket) through the shuffle — the
    // 64-float vectors are re-fetched by equi-join on the candidate ids
    // (a 96× band fan-out must not amplify vector bytes). Bit carving
    // is the shared F.srpSigsArray/srpBandExpr contract. Ingest-spread:
    // the 96-table SRP signature kernel is the dominant map cost and
    // must not run on the single local scan partition.
    embeddingNearDup(Tables.spread(Tables.embeddings(s, d), s, "vec_id"),
      EmbTau, EmbTables, EmbBandBits)
  }

  // --- D9: benchmark decontamination --------------------------------------
  // The eval-leakage gate every pre-training corpus runs before
  // training: how much of each train document's shingle set appears
  // anywhere in the held-out benchmark? Benchmark here = doc_id % 20
  // (a deterministic ~5% holdout); contaminated = containment ≥ 0.5
  // (near-dup-grade overlap — the 13-gram-window rules of
  // GPT-3/Gopher-style decontamination, applied at this corpus's
  // 3-gram granularity). Benchmark suites are small by nature, so the
  // distinct benchmark shingle set BROADCASTS and the train side is
  // one explode + semi-join + count — no shuffle of the corpus beyond
  // the per-doc aggregate. Joins on the shingle STRING (not the
  // 64-bit hash): a hash collision must not mark a clean document.
  val decontaminate = QueryDef.oracled(
    "corpus_decontaminate",
    s"""WITH $shingleSql,
      |bench AS (SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id % 20 = 0),
      |train AS (SELECT doc_id, s, len(s) AS n FROM sh
      |          WHERE doc_id % 20 <> 0 AND len(s) > 0),
      |ex AS (SELECT doc_id, unnest(s) AS shingle FROM train),
      |hits AS (SELECT doc_id, count(*) AS n_hit FROM ex
      |         WHERE shingle IN (SELECT shingle FROM bench) GROUP BY doc_id)
      |SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_shingles,
      |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
      |  CAST(coalesce(h.n_hit, 0) AS DOUBLE) / t.n AS containment,
      |  (CAST(coalesce(h.n_hit, 0) AS DOUBLE) / t.n >= 0.5) AS contaminated
      |FROM train t LEFT JOIN hits h USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val sets = shingled(s, d)
    val bench = sets.filter(pmod(col("doc_id"), lit(20)) === 0)
      .select(explode(col("shingles")).as("shingle")).distinct()
    val train = sets
      .filter(pmod(col("doc_id"), lit(20)) =!= 0 && col("n") > 0)
    val hits = train
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .join(broadcast(bench), Seq("shingle"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    train.select(col("doc_id"), col("n"))
      .join(hits, Seq("doc_id"), "left").na.fill(0L, Seq("n_hit"))
      .select(col("doc_id"),
        col("n").cast("bigint").as("n_shingles"),
        col("n_hit").cast("bigint").as("n_hit"),
        (col("n_hit").cast("double") / col("n")).as("containment"),
        (col("n_hit").cast("double") / col("n") >= 0.5).as("contaminated"))
  }

  // --- D6: boilerplate detector -------------------------------------------
  // Top shingles by document frequency — exactly the hot keys D2b's
  // DF-cap drops; as a first-class report it's the "find the
  // boilerplate" diagnostic a corpus curator runs before dedup. One
  // shuffle on the shingle, top-20 with full tiebreak.
  val topShingles = QueryDef.oracled(
    "dedup_top_shingles",
    s"""WITH $shingleSql,
      |ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh)
      |SELECT shingle, count(*) AS doc_freq
      |FROM ex GROUP BY shingle
      |ORDER BY doc_freq DESC, shingle LIMIT 20""".stripMargin) { (s, d) =>
    shingled(s, d)
      .select(explode(col("shingles")).as("shingle"))
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("shingle"))
      .limit(20)
  }

  // --- D7: near-dup clusters (connected components over D2's pairs) -------
  // The operator that turns a pair list into keep-one-per-cluster
  // decisions: components of the τ=0.8 Jaccard graph, cluster id = min
  // doc_id in the component (transitivity matters — A~B~C clusters
  // together even when A~C alone misses τ). Spark side: iterative
  // min-label propagation over the edge list; each sweep is one
  // shuffle-join + groupBy, lineage cut by localCheckpoint, convergence
  // checked with a one-scalar driver count. Sweeps needed = graph
  // diameter — near-dup components are shallow (dups of a doc are dups
  // of each other), so this converges in 2–3 sweeps; a deep-diameter
  // graph would switch to large-star/small-star contraction
  // (Kiveris et al., SOCC'14) for O(log n) rounds. Oracled by a
  // recursive-CTE reachability fold in DuckDB.
  /** Shared connected-components CTE chain (τ=0.8 pair graph →
    * `cl(doc_id, cluster_id)`) — single source for the D7 and D8
    * oracles so the threshold/shingle definition can't de-synchronize.
    */
  private val clusterCteSql =
    s"""$shingleSql,
      |ex AS (SELECT doc_id, unnest(s) AS shingle, len(s) AS n FROM sh),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter,
      |                 any_value(a.n) AS na, any_value(b.n) AS nb
      |          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |dup AS (SELECT doc_a, doc_b FROM pairs
      |        WHERE CAST(inter AS DOUBLE)/(na + nb - inter) >= 0.8),
      |e AS (SELECT doc_a AS a, doc_b AS b FROM dup
      |      UNION ALL SELECT doc_b, doc_a FROM dup),
      |reach AS (
      |  SELECT DISTINCT a, a AS r FROM e
      |  UNION
      |  SELECT e.a, reach.r FROM e JOIN reach ON reach.a = e.b),
      |cl AS (SELECT a AS doc_id, min(r) AS cluster_id FROM reach GROUP BY a)""".stripMargin

  /** The converged (doc_id, cluster_id) map — staged through FrameCache
    * (the warehouse writes this to a staging table once; D7 reports it,
    * D8 joins against it — round-3 verdict flagged D8's silent re-run of
    * the whole propagation). One copy per (session, dir); the iterative
    * build executes at most once per session.
    */
  /** Min-label propagation to convergence over an undirected pair list
    * (two id columns) → (id, cluster_id) for every id that appears in
    * a pair. The shared CC kernel behind D7 (shingle graph) and D14
    * (embedding graph).
    *
    * The dup graph is tiny relative to the corpus (|edges| ≈ dup rate ×
    * corpus, here hundreds of rows at sf0.1) — keep the iteration
    * frames on a fraction of the session's shuffle parallelism so
    * per-sweep scheduling doesn't dominate; a billion-edge deployment
    * turns the same one dial (spark.sql.shuffle.partitions).
    */
  private[graft] def propagateMin(s: SparkSession, pairs: DataFrame,
      what: String): DataFrame = {
    val sweepParts = math.max(2,
      s.conf.get("spark.sql.shuffle.partitions", "32").toInt / 4)
    val ab = pairs.toDF("a", "b")
    val edges = ab.union(ab.select(col("b"), col("a")))
      .toDF("src", "dst").repartition(sweepParts, col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint()
    var changed = 1L
    var sweeps = 0
    while (changed > 0 && sweeps < 64) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("lbl")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nlbl"))
        .withColumnRenamed("src", "id")
      // the change flag rides in the checkpointed frame: convergence
      // check is a scan of materialized data, not a recompute-join
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"),
          (col("nlbl") < col("lbl")).as("ch"))
        .localCheckpoint()
      changed = next.filter(col("ch")).count()
      labels = next.drop("ch")
      sweeps += 1
    }
    // fail LOUDLY if the sweep cap cut propagation short (a >64-diameter
    // dup chain): silently-wrong cluster ids would cascade into the
    // keep/drop decisions built on this map
    require(changed == 0,
      s"$what did not converge after $sweeps sweeps — " +
        "graph diameter exceeds the cap; raise it or switch to " +
        "star-contraction rounds")
    edges.unpersist()
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }

  private[graft] def clusterLabels(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s, s"dedup.clusters:$d") {
      // the pair graph comes from the DF-CAPPED path (== the exact
      // graph under D2b's cost model, spec-checked): at warehouse
      // scale the uncapped self-join's O(df²) hot keys would dominate
      // the whole CC build — and locally it halves the staged build
      propagateMin(s,
        cappedJaccardPairs(s, d, 0.8).select(col("doc_a"), col("doc_b")),
        "dedup_clusters")
        .select(col("id").as("doc_id"), col("cluster_id"))
    }

  /** Staged semantic cluster map (vec_id, cluster_id) — SemDeDup-style
    * (Abbas et al. 2023) components of the EMBEDDING near-dup graph:
    * edges = exact cosine ≥ τ over the D5 SRP candidate set, labels =
    * the same min-label propagation as D7. The edge family is D5's
    * 96-table SRP (not E12's 16-table top-k graph) because THIS map is
    * oracled against the all-pairs exact edge set — D5's green oracle
    * row is the standing proof that family misses nothing at τ=0.45 on
    * this data, while E12's recall contract is per-node top-k, not
    * every-edge-above-τ.
    */
  private[graft] def semanticClusterLabels(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s, s"dedup.semclusters:$d") {
      propagateMin(s,
        embeddingNearDup(Tables.spread(Tables.embeddings(s, d), s, "vec_id"),
          EmbTau, EmbTables, EmbBandBits)
          .select(col("vec_a"), col("vec_b")),
        "corpus_keepers_semantic")
        .select(col("id").as("vec_id"), col("cluster_id"))
    }

  val clusters = QueryDef.oracled(
    "dedup_clusters",
    s"""WITH RECURSIVE $clusterCteSql
      |SELECT doc_id, cluster_id FROM cl ORDER BY doc_id""".stripMargin) { (s, d) =>
    clusterLabels(s, d).orderBy(col("doc_id"))
  }

  // --- D8: the compaction decision — which documents survive dedup --------
  // The terminal op of the near-dup pipeline: every document keeps its
  // cluster representative (min doc_id in its D7 component) or itself
  // if it has no near-dup; `keep` marks the survivors a curator feeds
  // downstream. Left-join of the corpus against the (tiny) cluster
  // map — AQE broadcasts it; at 100 TB the dup-cluster map is still
  // orders of magnitude smaller than the corpus, so the plan shape
  // (big-scan ⋈ small-map) holds. The cluster map comes from the
  // FrameCache staging copy ([[clusterLabels]]) — the iterative
  // propagation D7 already ran is never re-executed here, exactly as a
  // warehouse joins the staged table it wrote once.
  val keepers = QueryDef.oracled(
    "corpus_keepers",
    s"""WITH RECURSIVE $clusterCteSql
      |SELECT d.doc_id,
      |       coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
      |       (cl.cluster_id IS NULL OR cl.cluster_id = d.doc_id) AS keep
      |FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val cl = clusterLabels(s, d)
    Tables.documents(s, d).select(col("doc_id"))
      .join(cl.withColumnRenamed("cluster_id", "cid"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cid"), col("doc_id")).as("cluster_id"),
        (col("cid").isNull || col("cid") === col("doc_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  // --- D14: SemDeDup — the semantic keeper decision ------------------------
  // The embedding-space twin of D8 (Abbas et al. 2023, "SemDeDup"):
  // documents whose EMBEDDINGS are near-duplicates (exact cosine ≥ τ
  // over the D5 candidate set) form clusters; each cluster keeps one
  // representative (min vec_id), everything else is a semantic dup a
  // curator drops. Composition of two staged artifacts — the D5 pair
  // machinery and the D7 propagation kernel — with the cluster map
  // itself staged (semanticClusterLabels), so the query proper is one
  // broadcast-sized left join against the corpus id list.
  //
  // Scale (100 TB): identical shape to D8 — the semantic-dup cluster
  // map is orders of magnitude smaller than the corpus, the corpus
  // side is a map-only scan + broadcast join, and the edge build ships
  // (vec_id, int bucket) pairs only (D5's argument).
  val semanticKeepers = QueryDef.oracled(
    "corpus_keepers_semantic",
    """WITH RECURSIVE p AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(list_zip(a.embedding, b.embedding),
      |                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))),
      |      (x, y) -> x + y) AS dot,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |      (x, y) -> x + y) AS na,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |      (x, y) -> x + y) AS nb
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
      |dup AS (SELECT vec_a, vec_b FROM p
      |        WHERE dot/(sqrt(na)*sqrt(nb)) >= 0.45
      |          AND NOT isnan(dot/(sqrt(na)*sqrt(nb)))),
      |e AS (SELECT vec_a AS a, vec_b AS b FROM dup
      |      UNION ALL SELECT vec_b, vec_a FROM dup),
      |reach AS (
      |  SELECT DISTINCT a, a AS r FROM e
      |  UNION
      |  SELECT e.a, reach.r FROM e JOIN reach ON reach.a = e.b),
      |cl AS (SELECT a AS vec_id, min(r) AS cluster_id FROM reach GROUP BY a)
      |SELECT em.vec_id,
      |       coalesce(cl.cluster_id, em.vec_id) AS cluster_id,
      |       (cl.cluster_id IS NULL OR cl.cluster_id = em.vec_id) AS keep
      |FROM embeddings em LEFT JOIN cl USING (vec_id)
      |ORDER BY em.vec_id""".stripMargin) { (s, d) =>
    val cl = semanticClusterLabels(s, d)
    Tables.embeddings(s, d).select(col("vec_id"))
      .join(cl.withColumnRenamed("cluster_id", "cid"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cid"), col("vec_id")).as("cluster_id"),
        (col("cid").isNull || col("cid") === col("vec_id")).as("keep"))
      .orderBy(col("vec_id"))
  }

  // --- D10: exact-substring window dedup ------------------------------------
  // The "training data memorization" dedup shape (Lee et al. 2022,
  // "Deduplicating Training Data Makes Language Models Better"): find
  // document pairs sharing a LONG verbatim character span — much
  // longer than a 3-gram, the kind of overlap that survives paraphrase
  // of surrounding text (license blocks, quoted passages, mirrored
  // articles). The exact suffix-array formulation doesn't distribute;
  // the standard warehouse form is a grid-window inverted index:
  // fixed-width W windows at stride S = W/2 (any shared span of length
  // ≥ W + S - 1 must contain a grid-aligned window OF ONE DOC that is
  // also grid-aligned in the other only if alignments match — so this
  // operator's contract, stated honestly, is grid-aligned W-char
  // window identity, the deterministic proxy both engines replay).
  // Hot windows past a DF cap are boilerplate and are dropped from the
  // index exactly like D2b's shingle cap; the join ships 8-byte window
  // hashes (same collision-odds argument as jaccardPairs), and the
  // per-pair output counts distinct shared grid windows.
  private val SubW = 80   // window width (chars)
  private val SubS = 40   // stride = W/2
  private val SubMaxDf = 128
  val substringDedup = QueryDef.oracled(
    "dedup_substring",
    s"""WITH wins AS (
      |  SELECT DISTINCT doc_id, substr(text, CAST(1 + i*$SubS AS INTEGER), $SubW) AS w
      |  FROM documents, range(0, 4096) t(i)
      |  WHERE length(text) >= $SubW AND i <= (length(text)-$SubW)//$SubS),
      |hot AS (SELECT w FROM wins GROUP BY w HAVING count(*) > $SubMaxDf),
      |idx AS (SELECT * FROM wins WHERE w NOT IN (SELECT w FROM hot)),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      |      FROM idx a JOIN idx b ON a.w = b.w AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2)
      |SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared
      |FROM p ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val wins = Tables.spread(Tables.documents(s, d), s, "doc_id")
      .filter(length(col("text")) >= SubW)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, CAST((length(text)-$SubW) div $SubS AS INT)),
           |  i -> substring(text, 1 + i*$SubS, $SubW))""".stripMargin)).as("w"))
      // windows ship as 8-byte hashes (collision odds ~|windows|²/2⁶⁵ —
      // the jaccardPairs argument); DISTINCT so a window repeated at two
      // grid positions of one doc can't double-count a pair's overlap
      .select(col("doc_id"), xxhash64(col("w")).as("wh")).distinct()
    val hot = wins.groupBy(col("wh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > SubMaxDf).select(col("wh"))
    val idx = wins.join(broadcast(hot), Seq("wh"), "left_anti")
    idx.select(col("doc_id").as("doc_a"), col("wh"))
      .join(idx.select(col("doc_id").as("doc_b"), col("wh")), Seq("wh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  // --- D11: cross-source overlap (near-duplicate source detection) --------
  // The corpus-curation question one level above document pairs: which
  // SOURCES are near-copies of each other (mirror sites, re-crawls,
  // dataset re-releases)? Exact set overlap over the same 3-gram
  // shingle space as D2: per-source distinct shingle sets, pairwise
  // intersection via the inverted index, Jaccard + containment
  // (containment catches a small source embedded in a big one, where
  // Jaccard dilutes).
  //
  // Scale (100 TB): the distinct (source, shingle) projection is the
  // one big shuffle and is the minimal sufficient statistic; the pair
  // join ships only 8-byte shingle hashes, and a shingle's post-
  // distinct df is bounded by |sources|, so the self-join has no
  // hot-key blowup (the D2 df² problem cannot occur here). Output is
  // O(|sources|²) rows — thousands, not billions. At extreme source
  // counts the same frame feeds a per-source MinHash sketch (D3's
  // machinery) instead of the exact index.
  val sourceOverlap = QueryDef.oracled(
    "source_overlap",
    s"""WITH $shingleSql,
      |ex AS (SELECT d.source AS source, unnest(sh.s) AS shingle
      |       FROM sh JOIN documents d ON sh.doc_id = d.doc_id),
      |ss AS (SELECT DISTINCT source, shingle FROM ex),
      |cnt AS (SELECT source, count(*) AS n FROM ss GROUP BY 1),
      |p AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS inter
      |      FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
      |      GROUP BY 1, 2)
      |SELECT source_a, source_b, ca.n AS n_a, cb.n AS n_b, inter,
      |       CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) AS jaccard,
      |       CAST(inter AS DOUBLE) / least(ca.n, cb.n) AS containment
      |FROM p JOIN cnt ca ON p.source_a = ca.source
      |       JOIN cnt cb ON p.source_b = cb.source
      |ORDER BY source_a, source_b""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    // join on the 64-bit shingle hash, not the string — same counts
    // (collision odds ~|shingles|²/2⁶⁵), fixed-width shuffle keys; the
    // oracle joins strings, which only the counts survive.
    //
    // ONE shingle-keyed shuffle (r18, guide §2.3/§2.4): the old plan
    // ran distinct(source, sh) and then SELF-JOINED it on sh — the
    // distinct subtree was planned (and shuffled) once per join side
    // plus a sort-merge exchange, three shingle-scale exchanges in
    // all. collect_set(source) per shingle is the same dedup in one
    // exchange (map-side partial sets ≈ the distinct's bytes), and
    // each shingle's pair fan-out is MAP-SIDE from its own sorted
    // source set — bounded by |sources|² per shingle, never a
    // shingle-scale join. cnt re-derives per-source distinct-shingle
    // counts from the same materialized frame (map-side combinable to
    // |sources| rows). Counts are identical: a sorted-set (i < j)
    // pair ≡ the old source_a < source_b equi-join predicate.
    val bySh = shingled(s, d)
      .join(docs, Seq("doc_id"))
      .select(col("source"), explode(col("shingles")).as("shingle"))
      .select(col("source"), xxhash64(col("shingle")).as("sh"))
      .groupBy(col("sh"))
      .agg(array_sort(collect_set(col("source"))).as("srcs"))
      .localCheckpoint() // |distinct shingles| rows; 2 consumers
    val cnt = bySh.select(explode(col("srcs")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairs = bySh
      .select(explode(expr(
        """flatten(transform(srcs, (x, i) ->
          |  transform(slice(srcs, i + 2, size(srcs)),
          |            y -> struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .groupBy(col("p.a").as("source_a"), col("p.b").as("source_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(cnt.select(col("source").as("source_a"), col("n").as("n_a"))),
        Seq("source_a"))
      .join(broadcast(cnt.select(col("source").as("source_b"), col("n").as("n_b"))),
        Seq("source_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .withColumn("containment",
        col("inter").cast("double") / least(col("n_a"), col("n_b")))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("inter"), col("jaccard"), col("containment"))
  }

  // --- D18: source distribution divergence (round 11) ------------------------
  // D11's distributional sibling: D11 asks "do these sources share
  // CONTENT" (shingle-set overlap — mirrors, re-crawls); D18 asks "do
  // they share a LANGUAGE DISTRIBUTION" — total-variation distance
  // between per-source unigram distributions, the mixture-design
  // signal (C25) for whether two sources are interchangeable or
  // complementary. TVD = ½ Σ_t |p_a(t) − p_b(t)| computed EXACTLY in
  // the house style: the numerator Σ|c_a·N_b − c_b·N_a| is integer
  // arithmetic (DECIMAL(38,0) ≡ HUGEINT accumulation, no float sums),
  // folded over COMMON tokens only via the identity
  //   Σ_all = 2·N_a·N_b + Σ_common(|c_a·N_b − c_b·N_a| − c_a·N_b − c_b·N_a)
  // (tokens private to one source contribute their full mass, which
  // the 2·N_a·N_b term supplies) — so the join only ever touches
  // tokens both sources contain; tvd is ONE double divide at the end.
  //
  // Scale (100 TB): per-source unigram counts = the word-count shuffle
  // (map-side combinable); the pair join fans each token out by at most
  // |sources|² (sources are few — no df² hot keys possible); totals
  // broadcast. Output O(|sources|²) rows.
  val sourceDivergence = QueryDef.oracled(
    "source_divergence",
    """WITH dw AS (SELECT source,
      |         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      |       FROM documents),
      |c AS (SELECT source, tok, count(*) AS c FROM dw GROUP BY 1, 2),
      |t AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
      |j AS (SELECT a.source AS source_a, b.source AS source_b,
      |        count(*) AS n_common,
      |        sum(abs(CAST(a.c AS HUGEINT) * tb.n - CAST(b.c AS HUGEINT) * ta.n)
      |            - CAST(a.c AS HUGEINT) * tb.n
      |            - CAST(b.c AS HUGEINT) * ta.n) AS sc
      |      FROM c a JOIN c b ON a.tok = b.tok AND a.source < b.source
      |           JOIN t ta ON ta.source = a.source
      |           JOIN t tb ON tb.source = b.source
      |      GROUP BY 1, 2)
      |SELECT ta.source AS source_a, tb.source AS source_b,
      |  coalesce(j.n_common, 0) AS n_common, ta.n AS n_a, tb.n AS n_b,
      |  CAST(CAST(2 AS HUGEINT) * ta.n * tb.n + coalesce(j.sc, 0) AS DOUBLE)
      |    / CAST(CAST(2 AS HUGEINT) * ta.n * tb.n AS DOUBLE) AS tvd
      |FROM t ta JOIN t tb ON ta.source < tb.source
      |     LEFT JOIN j ON j.source_a = ta.source AND j.source_b = tb.source
      |ORDER BY source_a, source_b""".stripMargin) { (s, d) =>
    val dw = Tables.spread(Tables.documents(s, d), s, "doc_id")
      .select(col("source"), explode(F.tokenize_words(col("text"))).as("tok"))
    val c = dw.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
    val t = c.groupBy(col("source")).agg(sum(col("c")).cast("long").as("n"))
    val joined = c.select(col("source").as("source_a"), col("tok"),
        col("c").as("ca"))
      .join(c.select(col("source").as("source_b"), col("tok"), col("c").as("cb")),
        Seq("tok"))
      .filter(col("source_a") < col("source_b"))
      .join(broadcast(t.select(col("source").as("source_a"), col("n").as("na"))),
        Seq("source_a"))
      .join(broadcast(t.select(col("source").as("source_b"), col("n").as("nb"))),
        Seq("source_b"))
    val caD = col("ca").cast("decimal(38,0)") * col("nb")
    val cbD = col("cb").cast("decimal(38,0)") * col("na")
    val agg = joined
      .withColumn("term", abs(caD - cbD) - caD - cbD)
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"), sum(col("term")).as("sc"))
    // the FULL |sources|² pair grid, so fully-disjoint source pairs —
    // the maximally divergent case a mixture designer most needs —
    // report tvd = 1.0 instead of silently vanishing from the output
    // (their private mass is exactly the closed-form 2·Na·Nb term)
    val grid = t.select(col("source").as("source_a"), col("n").as("na"))
      .join(broadcast(t.select(col("source").as("source_b"), col("n").as("nb"))),
        col("source_a") < col("source_b"))
    val den = col("na").cast("decimal(38,0)") * col("nb") * 2
    grid.join(agg, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        col("na").as("n_a"), col("nb").as("n_b"),
        ((den + coalesce(col("sc"), lit(0).cast("decimal(38,0)")))
          .cast("double") / den.cast("double")).as("tvd"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Materialize every shared FrameCache stage the dedup family reads
    * (shingle frame, DF-capped inverted index, converged cluster map) —
    * the staging-table warm-up a warehouse pays once. A timing harness
    * calls this BEFORE its timed loop, so the first-touch cost does not
    * land in whichever query happens to trigger it first.
    */
  private[graft] def warmStages(s: SparkSession, d: String): Unit =
    // concurrent loads (r18): see FrameCache.warmConcurrently — cold
    // chains (clusterLabels → exactPairs → shingled, winnowRarePairs →
    // winnowIdx) serialize on their per-key build locks, building once
    graft.FrameCache.warmConcurrently(Seq(
      () => shingled(s, d).queryExecution.toRdd.count(): Unit,
      () => cappedIndex(s, d).queryExecution.toRdd.count(): Unit,
      () => clusterLabels(s, d).queryExecution.toRdd.count(): Unit,
      () => semanticClusterLabels(s, d).queryExecution.toRdd.count(): Unit,
      () => winnowIdx(s, d).queryExecution.toRdd.count(): Unit,
      () => winnowRarePairs(s, d).queryExecution.toRdd.count(): Unit,
      () => exactPairs(s, d).queryExecution.toRdd.count(): Unit))

  // --- D12: semantic decontamination --------------------------------------
  // D9's embedding-space twin: the textual shingle containment check
  // misses PARAPHRASED benchmark leakage, so production decontamination
  // also screens the corpus against benchmark EMBEDDINGS (vec_id < 50
  // stands in for the eval set). τ = 0.45 — the same
  // above-random-cosine-background threshold D5 documents for this
  // synthetic embedding space. Per corpus vector: how many benchmark
  // vectors it matches and the closest one, exact cosines.
  //
  // Scale (100 TB): the benchmark set is small by nature (eval suites,
  // not corpora) — broadcast it and the scan is MAP-ONLY: |bench|
  // cosines per corpus vector, no shuffle of the corpus at all. The
  // window runs on match survivors only (a few rows per contaminated
  // vector). This is the one all-pairs shape where brute force IS the
  // 100 TB plan — the left side never leaves its scan partition.
  val semanticDecontaminate = QueryDef.oracled(
    "corpus_decontaminate_semantic",
    s"""WITH b AS (SELECT vec_id AS bench_id, embedding AS be
      |           FROM embeddings WHERE vec_id < 50),
      |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 50),
      |sc AS (SELECT vec_id, bench_id,
      |              ${Similarity.cosSql("embedding", "be")} AS cosine
      |       FROM c, b),
      |f AS (SELECT * FROM sc WHERE NOT isnan(cosine) AND cosine >= 0.45),
      |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
      |               ORDER BY cosine DESC, bench_id) AS rk,
      |             count(*) OVER (PARTITION BY vec_id) AS n_matches FROM f)
      |SELECT vec_id, n_matches, bench_id, cosine
      |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val bench = broadcast(Tables.embeddings(s, d)
      .filter(col("vec_id") < 50)
      .select(col("vec_id").as("bench_id"), col("embedding").as("be")))
    Tables.embeddings(s, d).filter(col("vec_id") >= 50)
      .crossJoin(bench)
      .withColumn("cosine", F.cosine_sim(col("embedding"), col("be")))
      .filter(!isnan(col("cosine")) && col("cosine") >= 0.45)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("cosine").desc, col("bench_id"))))
      .withColumn("n_matches", count(lit(1)).over(
        Window.partitionBy(col("vec_id"))))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("n_matches"), col("bench_id"), col("cosine"))
      .orderBy(col("vec_id"))
  }

  // --- D13: the full curation pipeline as one DAG ---------------------------
  // The reason the individual operators exist: a production corpus run
  // is quality filter → exact dedup → near-dup keeper selection →
  // decontamination → train/val/test split, and this query emits the
  // per-document DISPOSITION of that cascade (group by disposition =
  // the attrition funnel). Flags are computed globally from the staged
  // component frames (quality scores, content-hash canon, the D7
  // cluster map, D9 containment, C11 split) and applied in priority
  // order — every stage reuses a FrameCache'd artifact another query
  // already stages, so the pipeline costs little more than its most
  // expensive stage.
  //
  // Scale (100 TB): every component join is doc_id-keyed — the first
  // join shuffles both sides once and every later join reuses the
  // hash(doc_id) partitioning (exchange reuse), so the composition adds
  // ONE doc-keyed shuffle per new frame, each doc-count-sized; the
  // heavy lifting (shingle index, cluster propagation) is the staged
  // work the component queries already account for.
  val curation = QueryDef.oracled(
    "corpus_curation",
    s"""WITH RECURSIVE $clusterCteSql,
      |q AS (SELECT doc_id,
      |        CAST(len(list_distinct(w)) AS DOUBLE)/len(w) * 0.5
      |          + (1.0 - CAST(len(list_filter(w, x -> x IN ('the', 'a', 'and', 'of', 'to', 'is', 'in', 'it', 'on', 'for'))) AS DOUBLE)/len(w)) * 0.3
      |          + (1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE)/length(text)) * 0.2 AS quality_score
      |      FROM (SELECT doc_id, text,
      |              regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      |            FROM documents) t),
      |x AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY
      |        md5(trim(regexp_replace(lower(text), '[ \\t\\n\\f\\r]+', ' ', 'g')))) AS keeper
      |      FROM documents),
      |bench AS (SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id % 20 = 0),
      |tr AS (SELECT doc_id, len(s) AS n FROM sh
      |       WHERE doc_id % 20 <> 0 AND len(s) > 0),
      |exx AS (SELECT doc_id, unnest(s) AS shingle FROM sh
      |        WHERE doc_id % 20 <> 0 AND len(s) > 0),
      |hits AS (SELECT doc_id, count(*) AS n_hit FROM exx
      |         WHERE shingle IN (SELECT shingle FROM bench) GROUP BY doc_id),
      |cont AS (SELECT tr.doc_id,
      |           CAST(coalesce(h2.n_hit, 0) AS DOUBLE)/tr.n AS containment
      |         FROM tr LEFT JOIN hits h2 USING (doc_id)),
      |fp AS (SELECT doc_id, list_reduce(
      |    list_prepend(CAST(0 AS HUGEINT),
      |      list_transform(regexp_extract_all(text, '[\\s\\S]'),
      |                     c -> CAST(ord(c) AS HUGEINT))),
      |    (a, c) -> (a*31 + c) % CAST('18446744073709551616' AS HUGEINT)) AS h
      |  FROM documents)
      |SELECT d.doc_id,
      |  CASE WHEN d.doc_id % 20 = 0 THEN 'benchmark'
      |       WHEN q.quality_score < 0.65 THEN 'low_quality'
      |       WHEN x.keeper <> d.doc_id THEN 'exact_dup'
      |       WHEN cl.cluster_id IS NOT NULL AND cl.cluster_id <> d.doc_id THEN 'near_dup'
      |       WHEN coalesce(cont.containment, 0) >= 0.5 THEN 'contaminated'
      |       WHEN fp.h % 100 < 98 THEN 'train'
      |       WHEN fp.h % 100 = 98 THEN 'val' ELSE 'test' END AS disposition
      |FROM documents d
      |JOIN q USING (doc_id) JOIN x USING (doc_id)
      |LEFT JOIN cl USING (doc_id) LEFT JOIN cont USING (doc_id)
      |JOIN fp USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val q = TextAnalysis.quality.fn(s, d)
      .select(col("doc_id"), col("quality_score"))
    val canon = docs
      .select(col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "[ \\t\\n\\f\\r]+", " ")))
          .as("ch"))
      .withColumn("keeper", min(col("doc_id")).over(
        Window.partitionBy(col("ch"))))
      .select(col("doc_id"), col("keeper"))
    val cl = clusterLabels(s, d).withColumnRenamed("cluster_id", "cid")
    val cont = decontaminate.fn(s, d)
      .select(col("doc_id"), col("containment"))
    val sp = TextAnalysis.trainSplit.fn(s, d)
      .select(col("doc_id"), col("split"))
    docs.select(col("doc_id"))
      .join(q, Seq("doc_id")).join(canon, Seq("doc_id"))
      .join(cl, Seq("doc_id"), "left").join(cont, Seq("doc_id"), "left")
      .join(sp, Seq("doc_id"))
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(20)) === 0, lit("benchmark"))
          .when(col("quality_score") < 0.65, lit("low_quality"))
          .when(col("keeper") =!= col("doc_id"), lit("exact_dup"))
          .when(col("cid").isNotNull && col("cid") =!= col("doc_id"),
            lit("near_dup"))
          .when(coalesce(col("containment"), lit(0.0)) >= 0.5,
            lit("contaminated"))
          .otherwise(col("split")).as("disposition"))
      .orderBy(col("doc_id"))
  }

  // --- D15: dup-cluster size distribution ----------------------------------
  // The dedup REPORT every curation run prints before anyone trusts
  // the keeper decision: how many near-dup clusters exist at each
  // size, how many documents they hold, and how many would be dropped
  // (n_docs − n_clusters — everything but the representative). The
  // size-1 row counts the unclustered singletons; a fat tail here
  // (one giant cluster) is the classic symptom of boilerplate gluing
  // the corpus together, which is exactly when D2b's DF cap and the
  // propagation's convergence guard matter.
  //
  // Scale (100 TB): rides the STAGED cluster map (built once, shared
  // with D7/D8/D13) — the histogram is two aggregations over a
  // dup-cluster-sized frame (≪ corpus), and the singleton row is one
  // anti-join of a doc_id projection against that same tiny map
  // (AQE-broadcast), aggregated map-side to a single row.
  val clusterStats = QueryDef.oracled(
    "dedup_cluster_stats",
    s"""WITH RECURSIVE $clusterCteSql,
      |sizes AS (SELECT cluster_id, count(*) AS sz FROM cl GROUP BY 1),
      |h AS (SELECT sz AS cluster_size, count(*) AS n_clusters,
      |             CAST(sum(sz) AS BIGINT) AS n_docs
      |      FROM sizes GROUP BY 1),
      |singles AS (SELECT CAST(1 AS BIGINT) AS cluster_size,
      |                   count(*) AS n_clusters, count(*) AS n_docs
      |            FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
      |            WHERE cl.doc_id IS NULL HAVING count(*) > 0)
      |SELECT cluster_size, n_clusters, n_docs,
      |       n_docs - n_clusters AS n_dropped
      |FROM (SELECT * FROM h UNION ALL SELECT * FROM singles)
      |ORDER BY cluster_size""".stripMargin) { (s, d) =>
    val cl = clusterLabels(s, d)
    val hist = cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
    val singles = Tables.documents(s, d).select(col("doc_id"))
      .join(cl, Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 0)
      .select(lit(1L).as("cluster_size"), col("n").as("n_clusters"),
        col("n").as("n_docs"))
    hist.unionByName(singles)
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        (col("n_docs") - col("n_clusters")).as("n_dropped"))
      .orderBy(col("cluster_size"))
  }

  // --- D20: per-source duplication report (round 12) ------------------------
  // D15 histograms cluster SIZES; D20 attributes the duplication to its
  // ORIGIN — per corpus source: how many docs sit in a near-dup
  // cluster, how many the keeper rule drops, and how many duplicate
  // ACROSS sources (the mirror-site / syndication signal that tells a
  // curator whether dedup is removing intra-source boilerplate or
  // cross-source replication — different remediations). The per-source
  // dup_rate is the number a mixture plan (C25) discounts source
  // budgets by.
  //
  // Exactness: all counts integers off the staged cluster map; dup_rate
  // is ONE double divide.
  //
  // Scale (100 TB): rides the STAGED D7 cluster map (≪ corpus — only
  // pair-participating docs). The map joins the doc→source projection
  // doc_id-keyed; the per-cluster source-spread rollup and its join
  // back are both cluster-map-sized (AQE-broadcast); the final rollup
  // is ≤ |sources| rows with map-side partials. The corpus itself is
  // touched ONCE, for the per-source totals — a map-side-combinable
  // groupBy on a 2-column ReadSchema.
  val dupSources = QueryDef.oracled(
    "corpus_dup_sources",
    s"""WITH RECURSIVE $clusterCteSql,
      |cm AS (SELECT cl.doc_id, cl.cluster_id, d.source
      |       FROM cl JOIN documents d USING (doc_id)),
      |cs AS (SELECT cluster_id, count(DISTINCT source) AS n_sources
      |       FROM cm GROUP BY 1),
      |per AS (SELECT cm.source,
      |          count(*) AS n_dup_docs,
      |          CAST(sum(CASE WHEN cm.doc_id <> cm.cluster_id
      |                        THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |          CAST(sum(CASE WHEN cs.n_sources > 1
      |                        THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_source
      |        FROM cm JOIN cs USING (cluster_id) GROUP BY 1),
      |tot AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
      |SELECT t.source, t.n_docs,
      |  coalesce(p.n_dup_docs, 0) AS n_dup_docs,
      |  coalesce(p.n_dropped, 0) AS n_dropped,
      |  coalesce(p.n_cross_source, 0) AS n_cross_source,
      |  CAST(coalesce(p.n_dup_docs, 0) AS DOUBLE) / t.n_docs AS dup_rate
      |FROM tot t LEFT JOIN per p USING (source)
      |ORDER BY t.source""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    // every cl member shares its cluster with ≥1 other doc (labels come
    // from the pair graph), so "in cl" == "is a dup-cluster member"
    val cm = clusterLabels(s, d).join(docs, Seq("doc_id"))
    val cs = cm.groupBy(col("cluster_id"))
      .agg(countDistinct(col("source")).as("n_sources"))
    val per = cm.join(broadcast(cs), Seq("cluster_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_dup_docs"),
        sum(when(col("doc_id") =!= col("cluster_id"), 1L).otherwise(0L))
          .as("n_dropped"),
        sum(when(col("n_sources") > 1, 1L).otherwise(0L))
          .as("n_cross_source"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(per, Seq("source"), "left")
      .na.fill(0L, Seq("n_dup_docs", "n_dropped", "n_cross_source"))
      .withColumn("dup_rate",
        col("n_dup_docs").cast("double") / col("n_docs"))
      .orderBy(col("source"))
  }

  // --- D17: winnowing-fingerprint near-dup pairs (round 10, redefined 11) ---
  // The MATCH step of MOSS (Schleimer et al. SIGMOD'03), composing
  // C28's fingerprint selection into pair detection. Semantics,
  // redefined this round after a data audit: docs sharing at least
  // HALF of the smaller side's RARE selected fingerprints (df ≤
  // WinnowMaxDf), both sides carrying at least WinnowMinRare rare
  // fingerprints. The DF cap is part of the DECLARED SEMANTICS — the
  // oracle replays it — not a D2b-style cost model, because the
  // round-10 all-fingerprint definition is broken on real corpora in
  // both directions: (a) ubiquitous 8-gram fingerprints ("the ", "ing
  // ") carry ZERO dedup signal yet dominate every doc's fingerprint
  // mass (82% at sf0.1), so short docs "match" through common English
  // alone — false positives by construction; (b) computing that
  // definition needs either the Σdf² hot-key join (27.8 s round-10
  // shape) or an all-candidate array verify (42 s measured) — there
  // is no scale-safe plan FOR those semantics. Rare-only scoring is
  // what MOSS deployments do in practice (drop over-common
  // fingerprints, exactly like stopword removal), and it has D2's
  // one-bounded-shuffle plan: every fingerprint key's fan-out ≤ cap,
  // pair aggregate over the capped index, admission on exact integer
  // counts, score one double divide. The winnowing guarantee still
  // holds on the rare set: a shared run ≥ k+w−1 chars yields a shared
  // fingerprint, which is rare unless the run itself is corpus-common.
  private val WinnowMaxDf = 100
  private val WinnowMinRare = 8
  // the capped (rare-only) fingerprint inverted index — staged like
  // dedup.cappedIdx; feeds both pair-join sides and the per-doc counts
  private[graft] def winnowIdx(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s, s"dedup.winnowIdx:$d:$WinnowMaxDf") {
      val ex = TextAnalysis.winnowSel(s, d)
        .select(col("doc_id"), col("h")).distinct()
      val hot = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") > WinnowMaxDf).select(col("h"))
      ex.join(broadcast(hot), Seq("h"), "left_anti")
    }

  /** The D17 CTE fragment up to the ADMITTED pair list (terminal CTE
    * `dup(doc_a, doc_b, shared, mn)`) — shared by the D17 and D19
    * oracles so the two replays cannot drift.
    */
  private def winnowPairCtes: String =
    s"""${TextAnalysis.winnowCtes},
      |fp AS (SELECT DISTINCT doc_id, h FROM sel),
      |hot AS (SELECT h FROM (SELECT h, count(*) AS df FROM fp GROUP BY 1) t
      |        WHERE df > $WinnowMaxDf),
      |idx AS (SELECT fp.doc_id, fp.h FROM fp LEFT JOIN hot ON fp.h = hot.h
      |        WHERE hot.h IS NULL),
      |nr AS (SELECT doc_id, count(*) AS nr FROM idx GROUP BY 1
      |       HAVING count(*) >= $WinnowMinRare),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |                 count(*) AS shared
      |          FROM idx a JOIN idx b ON a.h = b.h AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |dup AS (SELECT doc_a, doc_b, shared, least(ra.nr, rb.nr) AS mn
      |        FROM pairs JOIN nr ra ON doc_a = ra.doc_id
      |                   JOIN nr rb ON doc_b = rb.doc_id
      |        WHERE shared * 2 >= least(ra.nr, rb.nr))""".stripMargin

  /** D17's admitted pair frame (doc_a, doc_b, shared, mn) — the Scala
    * twin of the `dup` CTE, shared with D19's cluster build. STAGED
    * (round 15): the rare-fingerprint INDEX was already a FrameCache
    * key, but both consumers re-ran the pair join over it —
    * dedup_winnow_clusters was the most expensive dedup query in the
    * r14 gated bench (3.61 s) largely re-paying dedup_winnow_pairs'
    * work. One staged frame (stripStats' pattern), two readers; with
    * the index dir set it is also a persisted artifact later sessions
    * load instead of rejoining.
    */
  private def winnowRarePairs(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s,
      s"dedup.winnowPairs:$d:$WinnowMaxDf:$WinnowMinRare") {
      winnowRarePairsBuild(s, d)
    }

  private def winnowRarePairsBuild(s: SparkSession, d: String): DataFrame = {
    val idx = winnowIdx(s, d)
    // per-doc rare-fingerprint counts; the MinRare floor drops docs
    // whose rare signal is too thin to score (a short boilerplate doc
    // has nothing but common fingerprints — no evidence either way)
    val nr = idx.groupBy(col("doc_id")).agg(count(lit(1)).as("nr"))
      .filter(col("nr") >= WinnowMinRare)
    // ONE shuffle on the fingerprint key; per-key fan-out ≤ cap² pairs
    val pairs = idx.select(col("doc_id").as("doc_a"), col("h"))
      .join(idx.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(nr.select(col("doc_id").as("doc_a"), col("nr").as("nra")),
        Seq("doc_a"))
      .join(nr.select(col("doc_id").as("doc_b"), col("nr").as("nrb")),
        Seq("doc_b"))
      .filter(col("shared") * 2 >= least(col("nra"), col("nrb")))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        least(col("nra"), col("nrb")).as("mn"))
  }

  val winnowPairs = QueryDef.oracled(
    "dedup_winnow_pairs",
    s"""WITH $winnowPairCtes
      |SELECT doc_a, doc_b, shared,
      |  CAST(shared AS DOUBLE) / CAST(mn AS DOUBLE) AS score
      |FROM dup ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    winnowRarePairs(s, d)
      .select(col("doc_a"), col("doc_b"), col("shared"),
        (col("shared").cast("double") / col("mn").cast("double")).as("score"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // --- D19: winnowing-fingerprint dup clusters (round 11) --------------------
  // D7's decision layer over D17's pair graph: connected components of
  // the rare-fingerprint match graph via the SAME min-label
  // propagation kernel as D7/D14/F5 (shared `propagateMin`, loud
  // 64-sweep non-convergence guard). A third edge family through one
  // proven CC kernel — shingle-Jaccard (D7), embedding-cosine (D14),
  // and now winnowing — which is exactly how a production curation
  // stack composes: detectors vary, the cluster/keeper machinery
  // doesn't. Edge list is D17's admitted pairs (bounded-fan-out
  // build); the label table is dup-cluster-sized.
  val winnowClusters = QueryDef.oracled(
    "dedup_winnow_clusters",
    s"""WITH RECURSIVE $winnowPairCtes,
      |e AS (SELECT doc_a AS a, doc_b AS b FROM dup
      |      UNION ALL SELECT doc_b, doc_a FROM dup),
      |reach AS (
      |  SELECT DISTINCT a, a AS r FROM e
      |  UNION
      |  SELECT e.a, reach.r FROM e JOIN reach ON reach.a = e.b),
      |cl AS (SELECT a AS doc_id, min(r) AS cluster_id FROM reach GROUP BY a)
      |SELECT doc_id, cluster_id FROM cl ORDER BY doc_id""".stripMargin) { (s, d) =>
    propagateMin(s, winnowRarePairs(s, d).select(col("doc_a"), col("doc_b")),
      "dedup_winnow_clusters")
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  // --- D21: incremental ingest dedup (round 12) -----------------------------
  // The op an incremental crawl refresh actually runs: dedupe the NEW
  // snapshot batch against the EXISTING corpus without reprocessing it
  // — C27 tells you what changed; this decides what the change batch is
  // allowed to ADD. v2 is C27's deterministically fabricated snapshot
  // (drop ≡3, revise ≡5, addendum ≡7 mod 17); each v2 doc gets a
  // disposition: `dup_of_existing` (its normalized D1 content hash is
  // already in the corpus — points at the v1 keeper), else
  // `dup_in_batch` (first-seen-wins by doc_id within the batch), else
  // `admit`. Mostly-unchanged re-crawls land dup_of_existing by
  // construction — exactly the real-world shape.
  //
  // Scale (100 TB): both sides reduce to (16-byte hash, doc_id)
  // MAP-SIDE before anything shuffles; the v1 keeper table, the batch
  // first-seen table, and the classification join are all keyed on the
  // same hash → one clustering, and the existing-corpus side is the
  // only corpus-scale input (the batch is incremental — small by
  // definition). Output ∝ |batch|. The normalize+md5 kernel runs ONCE
  // per v1 doc (ingest-spread wide, then localCheckpointed for its two
  // consumers); unchanged v2 docs REUSE the v1 hash — identical text
  // hashes identically — so only the revised ~1/17 slice and the tiny
  // addenda re-hash (first draft re-hashed the whole fabricated v2:
  // 3 corpus-wide kernel passes, 20.6 s cold at sf0.1 → 3.9 s).
  /** The D21 oracle — shared verbatim by the streaming twin A50 (the
    * arrival-order fold equals the batch min-keeper pick under the
    * doc_id-ascending arrival contract).
    */
  private[graft] val incrementalOracle: String =
    """WITH v2 AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 17 = 5
      |              THEN text || ' [rev2]' ELSE text END AS text
      |  FROM documents WHERE doc_id % 17 <> 3
      |  UNION ALL
      |  SELECT doc_id + 10000000,
      |         'v2 addendum for ' || CAST(doc_id AS VARCHAR)
      |  FROM documents WHERE doc_id % 17 = 7),
      |v1h AS (SELECT md5(trim(regexp_replace(lower(text),
      |                 '[ \t\n\f\r]+', ' ', 'g'))) AS h,
      |               min(doc_id) AS v1_keeper
      |        FROM documents GROUP BY 1),
      |v2h AS (SELECT doc_id, md5(trim(regexp_replace(lower(text),
      |                 '[ \t\n\f\r]+', ' ', 'g'))) AS h
      |        FROM v2),
      |bf AS (SELECT h, min(doc_id) AS batch_keeper FROM v2h GROUP BY 1)
      |SELECT v2h.doc_id, v2h.h AS content_hash,
      |  CASE WHEN v1_keeper IS NOT NULL THEN 'dup_of_existing'
      |       WHEN v2h.doc_id > batch_keeper THEN 'dup_in_batch'
      |       ELSE 'admit' END AS disposition,
      |  CASE WHEN v1_keeper IS NOT NULL THEN v1_keeper
      |       WHEN v2h.doc_id > batch_keeper THEN batch_keeper END AS dup_of
      |FROM v2h LEFT JOIN v1h USING (h) JOIN bf USING (h)
      |ORDER BY doc_id""".stripMargin

  val incremental = QueryDef.oracled(
    "dedup_incremental", incrementalOracle) { (s, d) =>
    val docs = Tables.documents(s, d)
    def norm(c: org.apache.spark.sql.Column) =
      md5(trim(regexp_replace(lower(c), "[ \\t\\n\\f\\r]+", " ")))
    val spreadDocs = Tables.spread(
      docs.select(col("doc_id"), col("text")), s, "doc_id")
    val h1 = spreadDocs.select(col("doc_id"), norm(col("text")).as("h"))
      .localCheckpoint() // (id, 16 B) rows; feeds v1 keepers AND v2 reuse
    val v1h = h1.groupBy(col("h")).agg(min(col("doc_id")).as("v1_keeper"))
    val revised = spreadDocs.filter(col("doc_id") % 17 === 5)
      .select(col("doc_id"),
        norm(concat(col("text"), lit(" [rev2]"))).as("h"))
    val addenda = docs.filter(col("doc_id") % 17 === 7)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        norm(concat(lit("v2 addendum for "), col("doc_id").cast("string")))
          .as("h"))
    val v2h = h1
      .filter(col("doc_id") % 17 =!= 3 && col("doc_id") % 17 =!= 5)
      .unionAll(revised).unionAll(addenda)
    val bf = v2h.groupBy(col("h")).agg(min(col("doc_id")).as("batch_keeper"))
    v2h.join(v1h, Seq("h"), "left")
      .join(bf, Seq("h"))
      .select(col("doc_id"), col("h").as("content_hash"),
        when(col("v1_keeper").isNotNull, "dup_of_existing")
          .when(col("doc_id") > col("batch_keeper"), "dup_in_batch")
          .otherwise("admit").as("disposition"),
        when(col("v1_keeper").isNotNull, col("v1_keeper"))
          .when(col("doc_id") > col("batch_keeper"), col("batch_keeper"))
          .as("dup_of"))
      .orderBy(col("doc_id"))
  }

  // --- D22: dedup threshold sweep (round 12) --------------------------------
  // The tuning table a dedup rollout reads BEFORE fixing τ: for each
  // candidate threshold in {0.5 … 0.9}, how many pairs fire, how many
  // docs they touch, and the shared-shingle mass they represent —
  // running the D2 pipeline five times to choose a threshold is the
  // naive form; this prices every τ from ONE pair computation. Counts
  // are exact integers; mass_containment (Σinter/Σunion over the τ's
  // surviving pairs) is one double divide. A τ whose pairs vanish
  // keeps its axis row with zero counts (dense-grid convention).
  //
  // Scale (100 TB): the one corpus-scale job is D2's inverted-index
  // self-join on the 8-byte shingle hash (the staged shingle frame +
  // AQE skew-split, same as every pair consumer); the τ≥0.5 pair frame
  // is localCheckpointed and the 5-way grid fan-out + both rollups run
  // on pairs only. Pair jaccards are identical single divides in both
  // engines, so τ comparisons cannot straddle an ulp.
  val thresholdSweep = QueryDef.oracled(
    "dedup_threshold_sweep",
    s"""WITH $shingleSql,
      |ex AS (SELECT doc_id, unnest(s) AS shingle, len(s) AS n FROM sh),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter,
      |                 any_value(a.n) AS na, any_value(b.n) AS nb
      |          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |pj AS (SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
      |         CAST(na + nb - inter AS BIGINT) AS un,
      |         CAST(inter AS DOUBLE)/(na + nb - inter) AS jaccard
      |       FROM pairs WHERE CAST(inter AS DOUBLE)/(na + nb - inter) >= 0.5),
      |taus AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS tau),
      |f AS (SELECT tau, doc_a, doc_b, inter, un
      |      FROM pj CROSS JOIN taus WHERE jaccard >= tau),
      |ag AS (SELECT tau, count(*) AS n_pairs,
      |         CAST(sum(inter) AS BIGINT) AS sum_inter,
      |         CAST(sum(un) AS BIGINT) AS sum_union
      |       FROM f GROUP BY 1),
      |dc AS (SELECT tau, count(DISTINCT doc) AS n_docs FROM (
      |         SELECT tau, doc_a AS doc FROM f
      |         UNION ALL SELECT tau, doc_b FROM f) GROUP BY 1)
      |SELECT taus.tau, coalesce(n_pairs, 0) AS n_pairs,
      |  coalesce(n_docs, 0) AS n_docs,
      |  coalesce(sum_inter, 0) AS sum_inter,
      |  coalesce(sum_union, 0) AS sum_union,
      |  CASE WHEN sum_union IS NOT NULL
      |       THEN CAST(sum_inter AS DOUBLE) / sum_union END AS mass_containment
      |FROM taus LEFT JOIN ag USING (tau) LEFT JOIN dc USING (tau)
      |ORDER BY tau""".stripMargin) { (s, d) =>
    val ex = shingled(s, d)
      .select(col("doc_id"), col("n"), explode(col("shingles")).as("shingle"))
      .select(col("doc_id"), col("n"), xxhash64(col("shingle")).as("sh"))
    val a = ex.select(col("doc_id").as("doc_a"), col("n").as("na"), col("sh"))
    val b = ex.select(col("doc_id").as("doc_b"), col("n").as("nb"), col("sh"))
    val pj = a.join(b, Seq("sh")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"), first(col("na")).as("na"),
        first(col("nb")).as("nb"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("na") + col("nb") - col("inter")).cast("long").as("un"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .localCheckpoint() // pair-scale frame; pair rollup + per-doc rollup
    // ALL taus in ONE pass (r19 — the E24/E25 conditional-aggregation
    // trick): the old plan fanned pairs ×5 through a crossJoin, cut a
    // second checkpoint, and re-aggregated per tau twice. The taus are
    // NESTED (pairs(0.9) ⊆ pairs(0.8) ⊆ ...), so the pair rollup is
    // 5×3 conditional sums in one aggregate, and a doc is touched at
    // tau iff the MAX jaccard over its pairs clears tau — one doc-keyed
    // rollup, then 5 conditional counts. Same single-divide
    // mass_containment; a tau with no pairs keeps NULL sums pre-
    // coalesce exactly like the old left join's no-match row.
    val Taus = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
    def tag(t: Double) = t.toString.replace('.', '_')
    val pairAggs = Taus.flatMap { t => Seq(
      coalesce(sum(when(col("jaccard") >= t, 1L)), lit(0L))
        .as(s"np_${tag(t)}"),
      sum(when(col("jaccard") >= t, col("inter"))).as(s"si_${tag(t)}"),
      sum(when(col("jaccard") >= t, col("un"))).as(s"su_${tag(t)}")) }
    val pairRow = pj.agg(pairAggs.head, pairAggs.tail: _*)
    val docMax = pj.select(col("doc_a").as("doc"), col("jaccard"))
      .unionAll(pj.select(col("doc_b").as("doc"), col("jaccard")))
      .groupBy(col("doc")).agg(max(col("jaccard")).as("mj"))
    val docAggs = Taus.map { t =>
      coalesce(sum(when(col("mj") >= t, 1L)), lit(0L)).as(s"nd_${tag(t)}") }
    val docRow = docMax.agg(docAggs.head, docAggs.tail: _*)
    pairRow.crossJoin(docRow)
      .select(explode(array(Taus.map { t =>
        struct(lit(t).as("tau"),
          col(s"np_${tag(t)}").as("n_pairs"),
          col(s"nd_${tag(t)}").as("n_docs"),
          coalesce(col(s"si_${tag(t)}"), lit(0L)).as("sum_inter"),
          coalesce(col(s"su_${tag(t)}"), lit(0L)).as("sum_union"),
          when(col(s"su_${tag(t)}").isNotNull,
            col(s"si_${tag(t)}").cast("double") / col(s"su_${tag(t)}"))
            .as("mass_containment"))
      }: _*)).as("t"))
      .select(col("t.tau").as("tau"), col("t.n_pairs").as("n_pairs"),
        col("t.n_docs").as("n_docs"), col("t.sum_inter").as("sum_inter"),
        col("t.sum_union").as("sum_union"),
        col("t.mass_containment").as("mass_containment"))
      .orderBy(col("tau"))
  }

  // --- D23: bounded edit-distance near-dup (round 12) -------------------------
  // The character-level detector the set-based family can't replace:
  // Jaccard on shingle SETS (D2) is blind to small in-place edits that
  // preserve most shingles but also to their ORDER and COUNT — a
  // version-bump edit ("v1.2" → "v1.3"), a renamed entity, a changed
  // number. Exact Levenshtein over the normalized text (D1's
  // normalization) scores exactly that class. All-pairs DP is O(n²·L²)
  // — never; candidates come from PREFIX BLOCKING (Gravano et al.
  // VLDB'01 q-gram prefix filtering's cheapest form): two docs can sit
  // within a small edit distance of each other only if... not quite —
  // an edit inside the first 24 chars escapes the block, which is the
  // declared contract: this operator targets dup classes whose HEAD is
  // stable (crawl re-fetches, suffix addenda, mid-document edits), the
  // overwhelmingly common near-identical shape; head-edited dups are
  // D2/D3's shingle-set territory. Completeness boundary documented,
  // not hidden.
  //
  // Scale (100 TB): the prefix key is an equi-join key (one shuffle of
  // (pfx, len, doc_id) — the DP runs only on admitted pairs); hot
  // prefixes (boilerplate heads — the D2b hot-shingle class) are
  // CAPPED: blocks with more than EditBlockCap members are dropped
  // whole (reported upstream by C36's boilerplate miner), so a
  // template head shared by m docs can never make m² DP pairs. The
  // length pre-filter (|Δlen| ≤ EditMaxDist — a lower bound on edit
  // distance) prunes before any DP. Both engines run the identical
  // classic unit-cost DP (ASCII corpus: byte ≡ codepoint).
  private val EditPrefix = 24   // block key: first 24 normalized chars
  private val EditBlockCap = 64 // hot-head cap: drop blocks with > 64 docs
  private val EditMaxDist = 64  // near-dup admission + |Δlen| pre-filter

  val editDistance = QueryDef.oracled(
    "dedup_edit_distance",
    s"""WITH n AS (SELECT doc_id,
      |         trim(regexp_replace(lower(text), '[ \\t\\n\\f\\r]+', ' ', 'g')) AS t
      |       FROM documents),
      |k AS (SELECT doc_id, t, substr(t, 1, $EditPrefix) AS pfx,
      |        len(t) AS ln FROM n),
      |ok AS (SELECT pfx FROM k GROUP BY pfx
      |       HAVING count(*) BETWEEN 2 AND $EditBlockCap),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |        levenshtein(a.t, b.t) AS edit_dist,
      |        a.ln AS len_a, b.ln AS len_b
      |      FROM k a JOIN ok USING (pfx) JOIN k b USING (pfx)
      |      WHERE a.doc_id < b.doc_id
      |        AND abs(a.ln - b.ln) <= $EditMaxDist)
      |SELECT doc_a, doc_b, edit_dist, len_a, len_b
      |FROM p WHERE edit_dist <= $EditMaxDist
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val k = Tables.spread(Tables.documents(s, d), s, "doc_id")
      .select(col("doc_id"),
        trim(regexp_replace(lower(col("text")), "[ \\t\\n\\f\\r]+", " "))
          .as("t"))
      .select(col("doc_id"), col("t"),
        substring(col("t"), 1, EditPrefix).as("pfx"),
        length(col("t")).as("ln"))
      .localCheckpoint() // normalize once; block census + both join sides
    val ok = k.groupBy(col("pfx")).agg(count(lit(1)).as("bn"))
      .filter(col("bn").between(2, EditBlockCap))
      .select(col("pfx"))
    val a = k.join(ok, Seq("pfx"))
    val b = a.select(col("pfx"), col("doc_id").as("doc_b"),
      col("t").as("tb"), col("ln").as("len_b"))
    a.select(col("pfx"), col("doc_id").as("doc_a"), col("t").as("ta"),
        col("ln").as("len_a"))
      .join(b, Seq("pfx"))
      .filter(col("doc_a") < col("doc_b") &&
        abs(col("len_a") - col("len_b")) <= EditMaxDist)
      // BOUNDED DP (round-13 ADVICE): the 3-arg levenshtein runs the
      // banded O(L·τ) algorithm and returns -1 past the threshold —
      // without the bound, a block of long near-equal docs (two 1 MB
      // docs sharing a 24-char head) costs O(L²) per admitted pair, a
      // single-task hotspot at 100 TB. Within the threshold the banded
      // value equals the exact distance, so admitted rows still match
      // the oracle's full DP bit-for-bit; the between(0, τ) filter
      // discards the -1 sentinel rows the old <= τ filter would KEEP.
      .withColumn("edit_dist",
        levenshtein(col("ta"), col("tb"), EditMaxDist))
      .filter(col("edit_dist").between(0, EditMaxDist))
      .select(col("doc_a"), col("doc_b"), col("edit_dist"),
        col("len_a"), col("len_b"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def all: Seq[QueryDef] = Seq(
    exact, ngramJaccard, ngramJaccardCapped, minhashLsh, simhash, embedding,
    topShingles, clusters, keepers, decontaminate, substringDedup,
    sourceOverlap, sourceDivergence, semanticDecontaminate, curation,
    semanticKeepers, clusterStats, containment, containmentCapped, winnowPairs,
    winnowClusters, dupSources, incremental, thresholdSweep, editDistance,
    minhashQuality, dfProfile, bandingSweep)
}
