package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** One media item: opaque binary payload + typed metadata — the
  * multimodal column model (SURVEY §2.F). Top-level for Catalyst's
  * generated (de)serializers.
  */
case class MediaItem(
    doc_id: Long, format: String, n_bytes: Int, payload: Array[Byte])

/** Extracted features per item. */
case class MediaFeatures(
    doc_id: Long, format: String, n_bytes: Int,
    width: Int, height: Int, features: Array[Double])

/** One sampled frame: byte window of the payload at a fixed offset. */
case class MediaFrame(
    doc_id: Long, frame_idx: Int, frame_offset: Long, frame: Array[Byte])

/** Multimodal plumbing (SURVEY §2.F1): image/audio/video as opaque
  * binary columns with typed metadata, decoded batch-wise inside the
  * executors.
  *
  * The *plumbing* is real and tested: binary payload column, typed
  * metadata, partition-balanced `mapPartitions` with explicit batching
  * (the shape a GPU/native decoder wants), typed Encoders end to end.
  * The *decoder* is a clearly marked deterministic STUB — the container
  * ships no image/audio libs (per the build brief) — so `decodeBatch`
  * is where libjpeg/ffmpeg-style calls would go.
  *
  * Scale notes: payloads stay columnar-binary in parquet; the
  * repartition spreads skewed media sizes; batches amortize per-call
  * decoder setup. No driver collection anywhere.
  */
object Multimodal {

  private val BatchSize = 64

  /** STUB DECODER — deterministic fake standing in for a real media
    * decode (no media libraries in this container). Emits stable
    * pseudo-dimensions and an 8-bin byte-histogram-moment feature
    * vector; a real implementation replaces ONLY this function.
    */
  private def decodeBatch(batch: Seq[MediaItem]): Seq[MediaFeatures] =
    batch.map { m =>
      val h = graft.functions.HashImpl.mix64(m.doc_id)
      val width = 64 + (h & 0x3f).toInt            // fake dims, stable per doc
      val height = 64 + ((h >>> 6) & 0x3f).toInt
      val hist = new Array[Double](8)
      var i = 0
      while (i < m.payload.length) {
        hist((m.payload(i) & 0xff) >> 5) += 1.0
        i += 1
      }
      val n = math.max(1, m.payload.length).toDouble
      MediaFeatures(m.doc_id, m.format, m.n_bytes, width, height,
        hist.map(_ / n))
    }

  // --- F1: binary media column → batched feature extraction ---------------
  /** Raw feature frame with the `features` array column — the library
    * surface and the spec subject. The driver-facing query projects it
    * to scalars (dims + digest) because the harness canonicalizer
    * cannot sort array cells.
    */
  /** The shared synthetic-media item source: doc text bytes as opaque
    * payload, format from source, decode work balanced across
    * executors regardless of source skew. Single definition so F1 and
    * F2 cannot drift onto divergent item sets.
    */
  private def mediaItems(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.Dataset[MediaItem] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"),
        concat(lit("media/"), col("source")).as("format"),
        octet_length(encode(col("text"), "UTF-8")).cast("int").as("n_bytes"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaItem]
      .repartition(col("doc_id"))
  }

  def mediaFeaturesRaw(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    mediaItems(s, d).mapPartitions { it =>
      it.grouped(BatchSize).flatMap(batch => decodeBatch(batch.toSeq))
    }.toDF()
  }

  // Driver projection fully integerized (nano-unit BIGINT digest — the
  // same float-formatting-free idiom as embedding_centroids), which
  // lets the deterministic stub oracle bit-exactly: the fake dims are
  // splitmix64 replayed in uint64 SQL, the histogram is an ord()>>5
  // count (the corpus is ASCII, so UTF-8 bytes == codepoints), and a
  // real decoder swap would downgrade this row to rows+spec, by design.
  val mediaFeatures = QueryDef.oracled(
    "media_features", {
      s"""WITH ${graft.queries.U64Sql.stubDimCtes},
        |chars AS (SELECT doc_id, ord(unnest(regexp_extract_all(text, '[\\s\\S]'))) // 32 AS bin
        |          FROM documents),
        |binc AS (SELECT doc_id, bin, count(*) AS c FROM chars GROUP BY 1, 2),
        |grid AS (SELECT doc_id, length(text) AS n, b
        |         FROM documents CROSS JOIN range(0, 8) t(b)),
        |feat AS (SELECT g.doc_id, g.b,
        |           CAST(coalesce(bc.c, 0) AS DOUBLE) / greatest(1, g.n) AS f
        |         FROM grid g LEFT JOIN binc bc ON g.doc_id = bc.doc_id AND g.b = bc.bin),
        |fd AS (SELECT doc_id,
        |         md5(string_agg(CAST(CAST(round(f * 1000000000) AS BIGINT) AS VARCHAR),
        |                        ',' ORDER BY b)) AS features_digest
        |       FROM feat GROUP BY doc_id)
        |SELECT d.doc_id, 'media/' || d.source AS format,
        |  CAST(length(d.text) AS INTEGER) AS n_bytes,
        |  CAST(m.width AS INTEGER) AS width,
        |  CAST(m.height AS INTEGER) AS height,
        |  CAST(8 AS INTEGER) AS n_features,
        |  fd.features_digest
        |FROM documents d JOIN mix m USING (doc_id) JOIN fd USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin
    }) { (s, d) =>
    mediaFeaturesRaw(s, d)
      .select(col("doc_id"), col("format"), col("n_bytes"),
        col("width"), col("height"),
        size(col("features")).as("n_features"),
        md5(concat_ws(",",
          expr("transform(features, x -> CAST(CAST(round(x * 1000000000) AS BIGINT) AS STRING))")))
          .as("features_digest"))
  }

  // --- F2: frame sampling -------------------------------------------------
  private val FramesPerItem = 4
  private val FrameBytes = 256

  /** Deterministic frame sampler standing in for an ffmpeg-style
    * keyframe extraction: k fixed-size byte windows at evenly spaced
    * offsets of the opaque payload. One-to-many row fan-out with the
    * same batched-decode plumbing as F1; a real implementation replaces
    * ONLY the window arithmetic with actual frame boundaries.
    */
  private def sampleFrames(batch: Seq[MediaItem]): Seq[MediaFrame] =
    batch.flatMap { m =>
      val n = m.payload.length
      // empty payload → zero frames (a 0-byte "frame" is not a frame)
      val k = if (n == 0) 0 else math.min(FramesPerItem, math.max(1, n / FrameBytes))
      (0 until k).map { i =>
        // evenly spaced, clamped so the last window fits
        val off = math.min((n.toLong * i) / k, math.max(0, n - FrameBytes).toLong)
        val len = math.min(FrameBytes, n - off.toInt)
        MediaFrame(m.doc_id, i, off,
          java.util.Arrays.copyOfRange(m.payload, off.toInt, off.toInt + len))
      }
    }

  /** Raw frame rows (binary column) — the library surface; the
    * driver-facing query projects scalars.
    */
  def mediaFramesRaw(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    mediaItems(s, d).mapPartitions { it =>
      it.grouped(BatchSize).flatMap(batch => sampleFrames(batch.toSeq))
    }.toDF()
  }

  // The window arithmetic is pure integer math over the payload length,
  // so the oracle replays it exactly; frame bytes are text substrings
  // (ASCII corpus), so md5 over the VARCHAR window hashes the same
  // bytes Spark's binary md5 sees. A real keyframe extractor swap would
  // downgrade this row to rows+spec, by design.
  val mediaFrames = QueryDef.oracled(
    "media_frame_sample",
    s"""WITH items AS (SELECT doc_id, length(text) AS n, text FROM documents),
      |k AS (SELECT *, CASE WHEN n = 0 THEN 0
      |                     ELSE least($FramesPerItem, greatest(1, n // $FrameBytes)) END AS k
      |      FROM items),
      |fr AS (SELECT doc_id, n, text, k, i,
      |         least(n * i // k, greatest(0, n - $FrameBytes)) AS off
      |       FROM k CROSS JOIN range(0, $FramesPerItem) t(i) WHERE i < k)
      |SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
      |  CAST(off AS BIGINT) AS frame_offset,
      |  CAST(least($FrameBytes, n - off) AS INTEGER) AS frame_bytes,
      |  md5(substr(text, CAST(off + 1 AS INTEGER), CAST(least($FrameBytes, n - off) AS INTEGER))) AS frame_md5
      |FROM fr ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
    mediaFramesRaw(s, d)
      .select(col("doc_id"), col("frame_idx"), col("frame_offset"),
        octet_length(col("frame")).as("frame_bytes"),
        md5(col("frame")).as("frame_md5"))
  }

  // --- F3: binary-asset dedup ----------------------------------------------
  // Content-addressed dedup over the OPAQUE payload bytes — the asset-
  // store shape (same image/audio file ingested under many doc ids maps
  // to one stored object + refcount). Unlike D1 this hashes the raw
  // binary with NO normalization (normalization is undefined for
  // opaque media); one shuffle on the 128-bit content hash, keeper =
  // min doc_id. The synthetic corpus has no byte-identical payloads
  // (every row reports n_copies = 1) — the operator's contract is
  // still exercised end to end: payload hashing, grouping, refcount
  // and byte accounting all oracle bit-exact. Oracle: the payload is
  // the UTF-8 encoding of an ASCII text column, so DuckDB's md5(text)
  // hashes the same bytes Spark's md5(binary) sees.
  val mediaDedup = QueryDef.oracled(
    "media_dedup",
    """SELECT md5(text) AS payload_md5, min(doc_id) AS keeper_doc_id,
      |  count(*) AS n_copies, CAST(sum(length(text)) AS BIGINT) AS total_bytes
      |FROM documents GROUP BY 1 ORDER BY keeper_doc_id""".stripMargin) { (s, d) =>
    mediaItems(s, d).toDF()
      .select(md5(col("payload")).as("payload_md5"), col("doc_id"),
        col("n_bytes"))
      .groupBy(col("payload_md5"))
      .agg(min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("n_copies"),
        sum(col("n_bytes")).cast("bigint").as("total_bytes"))
  }

  // --- F4: fuzzy near-dup over payload bytes (the pHash shape) -------------
  // F3 catches byte-identical assets; F4 catches NEAR-identical ones —
  // the re-encoded/trimmed/metadata-stripped copies a real asset store
  // dedups with a perceptual hash. Over opaque payloads the honest
  // content proxy is ssdeep-style fuzzy hashing: SimHash over the
  // payload's overlapping byte 4-grams (native CharGrams4 + SimHash64
  // kernels, one codegen call each), then the D4 banded machinery —
  // 4×16-bit bands, pigeonhole-complete for hamming ≤ 3, bucket id =
  // shuffle key. A real pHash (DCT over decoded pixels) would slot in
  // at the decoder stub exactly like F1's features; the banding,
  // pairing and verification layers are decoder-independent.
  val mediaPhash = QueryDef.oracled(
    "media_phash", graft.queries.Dedup.simhashPairsOracleSql(
      // payload := UTF-8 bytes of text (ASCII corpus ⇒ bytes == chars,
      // the F1 oracle property), so the byte 4-grams replay as
      // codepoint slices
      """SELECT doc_id,
        |         unnest([text[i:i+3] FOR i IN range(1, length(text)-2)]) AS tok
        |  FROM documents""".stripMargin)) { (s, d) =>
    val sigs = mediaItems(s, d).toDF()
      .select(col("doc_id"),
        graft.functions.expressions.simhash64(
          graft.functions.expressions.chargrams4(
            decode(col("payload"), "UTF-8"))).as("sig"))
    graft.queries.Dedup.bandedSimhashPairs(sigs)
  }

  // --- F5: asset keeper decision over the pHash near-dup graph ------------
  // The media twin of D8 (text) and D14 (embeddings): F4's hamming ≤ 3
  // near-dup pairs form clusters (the SAME min-label propagation kernel
  // as D7/D14), each cluster keeps its min-doc_id asset, everything
  // else is a re-encode/trim copy the asset store serves by reference.
  // The cluster map is a staged FrameCache artifact; the query proper
  // is a broadcast-sized left join against the asset id list — D8's
  // exact 100 TB shape over payload bytes instead of shingles.
  private[graft] def phashClusterLabels(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.FrameCache.getOrPersist(s, s"media.phclusters:$d") {
      val sigs = mediaItems(s, d).toDF()
        .select(col("doc_id"),
          graft.functions.expressions.simhash64(
            graft.functions.expressions.chargrams4(
              decode(col("payload"), "UTF-8"))).as("sig"))
      graft.queries.Dedup.propagateMin(s,
        graft.queries.Dedup.bandedSimhashPairs(sigs)
          .select(col("doc_a"), col("doc_b")),
        "media_keepers")
        .select(col("id").as("doc_id"), col("cluster_id"))
    }

  val mediaKeepers = QueryDef.oracled(
    "media_keepers",
    s"""WITH RECURSIVE ${graft.queries.Dedup.simhashPairsCteSql(
      """SELECT doc_id,
        |         unnest([text[i:i+3] FOR i IN range(1, length(text)-2)]) AS tok
        |  FROM documents""".stripMargin)},
      |dup AS (SELECT doc_a, doc_b FROM pairs WHERE hamming <= 3),
      |e AS (SELECT doc_a AS a, doc_b AS b FROM dup
      |      UNION ALL SELECT doc_b, doc_a FROM dup),
      |reach AS (
      |  SELECT DISTINCT a, a AS r FROM e
      |  UNION
      |  SELECT e.a, reach.r FROM e JOIN reach ON reach.a = e.b),
      |cl AS (SELECT a AS doc_id, min(r) AS cluster_id FROM reach GROUP BY a)
      |SELECT d.doc_id,
      |       coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
      |       (cl.cluster_id IS NULL OR cl.cluster_id = d.doc_id) AS keep
      |FROM documents d LEFT JOIN cl USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val cl = phashClusterLabels(s, d)
    mediaItems(s, d).toDF().select(col("doc_id"))
      .join(cl.withColumnRenamed("cluster_id", "cid"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cid"), col("doc_id")).as("cluster_id"),
        (col("cid").isNull || col("cid") === col("doc_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  // --- F6: image-text pairing table -----------------------------------------
  // The LAION-style multimodal training-pair builder: each media asset
  // joined to its caption's text stats, with the pair-admission
  // decision (caption length, payload size, aspect-ratio bounds) the
  // downstream image-text trainer consumes. The decode side reuses
  // F1's batched-stub dims; the caption side is one tokenizer pass.
  // The admission predicate is ALL-INTEGER (aspect bound as the
  // cross-multiplied width*2 >= height, not a float ratio) so the flag
  // is trivially engine-identical; the one double is the aspect ratio
  // emitted for human consumption.
  //
  // Scale (100 TB): both sides are doc_id-keyed — one equi-join, no
  // window; with assets and captions bucketed by doc_id (the A1
  // changelog dial) the join is zero-Exchange. A real decoder swap
  // changes ONLY the width/height source (F1's caveat).
  private val PairMinTokens = 5L
  private val PairMinBytes = 64L
  val captionPairs = QueryDef.oracled(
    "media_caption_pairs", {
      s"""WITH ${graft.queries.U64Sql.stubDimCtes},
        |cap AS (SELECT doc_id,
        |          len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
        |          length(text) AS n_bytes
        |        FROM documents)
        |SELECT d.doc_id, 'media/' || d.source AS format,
        |  CAST(c.n_bytes AS BIGINT) AS n_bytes,
        |  CAST(m.width AS BIGINT) AS width, CAST(m.height AS BIGINT) AS height,
        |  CAST(c.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(m.width AS DOUBLE) / m.height AS aspect,
        |  (c.n_tokens >= $PairMinTokens AND c.n_bytes >= $PairMinBytes
        |   AND m.width * 2 >= m.height AND m.height * 2 >= m.width) AS pair_keep
        |FROM documents d JOIN mix m USING (doc_id) JOIN cap c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin
    }) { (s, d) =>
    val caps = Tables.documents(s, d)
      .select(col("doc_id"),
        size(graft.functions.expressions.tokenize_words(col("text")))
          .cast("long").as("n_tokens"))
    mediaFeaturesRaw(s, d)
      .select(col("doc_id"), col("format"), col("n_bytes").cast("long"),
        col("width").cast("long"), col("height").cast("long"))
      .join(caps, Seq("doc_id"))
      .select(col("doc_id"), col("format"), col("n_bytes"), col("width"),
        col("height"), col("n_tokens"),
        (col("width").cast("double") / col("height")).as("aspect"),
        (col("n_tokens") >= PairMinTokens && col("n_bytes") >= PairMinBytes
          && col("width") * 2 >= col("height")
          && col("height") * 2 >= col("width")).as("pair_keep"))
      .orderBy(col("doc_id"))
  }

  // --- F7: training-shard manifest (round 10) ------------------------------
  // The WebDataset/tar-shard packing step: assign every media asset to
  // a fixed-size output shard and emit the per-shard MANIFEST the
  // training loader consumes (member count, byte total, id range, ordered
  // member digest). C14's stream-sharded running-offset design applied
  // to payload BYTES: assets are content-fingerprint-sharded into
  // independent streams (reproducible, no RNG), each stream packs in
  // doc_id order, and an asset joins the shard where its running
  // offset STARTS (tar members never straddle an archive).
  //
  // Scale (100 TB): one hash shuffle on stream; the running offset is
  // a per-stream O(n) window pass and the stream count is the
  // parallelism dial — no global cumsum, no single-task sort. The
  // manifest aggregation groups on (stream, shard_seq), map-side
  // combinable except the ordered digest (bounded by shard capacity).
  private val ShardStreams = 8
  private val ShardBytes = 4096L
  val shardManifest = QueryDef.oracled(
    "media_shard_manifest",
    s"""WITH t AS (SELECT doc_id, strlen(text) AS nb,
      |    CAST(list_reduce(
      |      list_prepend(CAST(0 AS HUGEINT),
      |        list_transform(regexp_extract_all(text, '[\\s\\S]'),
      |                       c -> CAST(ord(c) AS HUGEINT))),
      |      (a, c) -> (a*31 + c) % CAST('18446744073709551616' AS HUGEINT))
      |      % $ShardStreams AS INTEGER) AS stream
      |  FROM documents),
      |w AS (SELECT *, CAST(coalesce(sum(nb) OVER (PARTITION BY stream
      |        ORDER BY doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |        AS BIGINT) AS off
      |      FROM t)
      |SELECT stream, off // $ShardBytes AS shard_seq,
      |  count(*) AS n_items, CAST(sum(nb) AS BIGINT) AS shard_bytes,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
      |  md5(string_agg(CAST(doc_id AS VARCHAR), ','
      |      ORDER BY CAST(doc_id AS VARCHAR))) AS member_digest
      |FROM w GROUP BY stream, shard_seq
      |ORDER BY stream, shard_seq""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val t = Tables.documents(s, d)
      .select(col("doc_id"), octet_length(col("text")).cast("long").as("nb"),
        (graft.queries.Coordination.fpUnsigned(col("text")) % ShardStreams)
          .cast("int").as("stream"))
    val w = Window.partitionBy(col("stream")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.withColumn("off", coalesce(sum(col("nb")).over(w), lit(0L)))
      .withColumn("shard_seq", expr(s"off DIV $ShardBytes"))
      .groupBy(col("stream"), col("shard_seq"))
      .agg(count(lit(1)).as("n_items"), sum(col("nb")).as("shard_bytes"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"),
        md5(concat_ws(",",
          sort_array(collect_list(col("doc_id").cast("string")))))
          .as("member_digest"))
      .orderBy(col("stream"), col("shard_seq"))
  }

  // --- F8: payload-size profile per format (round 12) ------------------------
  // B53's log2-histogram idea in asset space: per media format, the
  // payload-size distribution as bit-length buckets (bucket = bit
  // length of n_bytes — exact INTEGER arithmetic at every
  // power-of-two boundary, no float log), with per-bucket item count,
  // byte mass, min/max, and the bucket's byte share WITHIN its format.
  // This is the profile F7's shard sizing and a decode batcher's
  // memory budget presuppose — a fat high bucket says "these assets
  // need their own shard stream / batch size", and it must come from
  // METADATA, not a payload read.
  //
  // Scale (100 TB): one map-side-combinable groupBy over a 2-column
  // projection (format, n_bytes) — the payload column is never read
  // (ReadSchema excludes it); the histogram collapses to
  // ≤ |formats|·64 rows and the share window runs over those.
  val sizeProfile = QueryDef.oracled(
    "media_size_profile",
    """WITH t AS (SELECT 'media/' || source AS format,
      |             CAST(strlen(text) AS BIGINT) AS nb
      |           FROM documents),
      |h AS (SELECT format, CAST(length(bin(nb)) AS INTEGER) AS bucket,
      |        count(*) AS n_items, CAST(sum(nb) AS BIGINT) AS total_bytes,
      |        min(nb) AS min_bytes, max(nb) AS max_bytes
      |      FROM t GROUP BY 1, 2)
      |SELECT format, bucket, n_items, total_bytes, min_bytes, max_bytes,
      |  CAST(total_bytes AS DOUBLE)
      |    / CAST(sum(total_bytes) OVER (PARTITION BY format) AS BIGINT)
      |    AS share
      |FROM h ORDER BY format, bucket""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, d)
      .select(concat(lit("media/"), col("source")).as("format"),
        octet_length(encode(col("text"), "UTF-8")).cast("long").as("nb"))
      .groupBy(col("format"), length(bin(col("nb"))).as("bucket"))
      .agg(count(lit(1)).as("n_items"), sum(col("nb")).as("total_bytes"),
        min(col("nb")).as("min_bytes"), max(col("nb")).as("max_bytes"))
      .withColumn("share", col("total_bytes").cast("double")
        / sum(col("total_bytes")).over(Window.partitionBy(col("format"))))
      .orderBy(col("format"), col("bucket"))
  }

  def all: Seq[QueryDef] =
    Seq(mediaFeatures, mediaFrames, mediaDedup, mediaPhash, mediaKeepers,
      captionPairs, shardManifest, sizeProfile)
}
