package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{expressions => F}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` (SURVEY §2.C) — the
  * token-counting / quality-scoring / language-ID / fingerprinting
  * primitives of an LLM training-data pipeline.
  *
  * Everything is a narrow projection over one table: no shuffle at all
  * except the final presentation sort — at 100 TB these run map-only,
  * bounded by parquet scan throughput, entirely inside whole-stage
  * codegen (regexp + the native Fingerprint64 expression).
  *
  * Token model shared with the DuckDB oracles: words =
  * regexp_extract_all(lower(text), '[a-z0-9]+'); "BPE-ish" tokens =
  * letter-runs | digit-runs | single non-alphanumeric glyphs.
  */
object TextAnalysis {

  private def words(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))

  private[graft] val stopwords =
    Seq("the", "a", "and", "of", "to", "is", "in", "it", "on", "for")
  private def sqlList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")
  /** The stopword list as a SQL IN-list — shared with E18's oracle. */
  private[queries] def stopwordsSql: String = sqlList(stopwords)

  // --- C1: token counting ------------------------------------------------
  val tokenStats = QueryDef.oracled(
    "text_token_stats",
    """SELECT doc_id, length(text) AS n_chars_calc,
      |  len(regexp_extract_all(text, '[^ \t\n\f\r]+')) AS n_ws_tokens,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\f\r]')) AS n_bpe_tokens,
      |  md5(text) AS text_md5
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_calc"),
      size(regexp_extract_all(col("text"), lit("[^ \\t\\n\\f\\r]+"), lit(0)))
        .cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\f\\r]"), lit(0)))
        .cast("long").as("n_bpe_tokens"),
      md5(col("text")).as("text_md5"))
  }

  // --- C2: quality scoring -----------------------------------------------
  // Component ratios + a fixed-weight composite; both engines evaluate
  // the identical double expression tree → bit-equal.
  val quality = QueryDef.oracled(
    "text_quality",
    s"""WITH t AS (SELECT doc_id, text,
      |            regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      |            FROM documents)
      |SELECT doc_id, len(w) AS n_words,
      |  CAST(len(list_distinct(w)) AS DOUBLE)/len(w) AS uniq_ratio,
      |  CAST(len(list_filter(w, x -> x IN (${sqlList(stopwords)}))) AS DOUBLE)/len(w) AS stop_ratio,
      |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE)/length(text) AS punct_ratio,
      |  CAST(len(list_distinct(w)) AS DOUBLE)/len(w) * 0.5
      |    + (1.0 - CAST(len(list_filter(w, x -> x IN (${sqlList(stopwords)}))) AS DOUBLE)/len(w)) * 0.3
      |    + (1.0 - CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE)/length(text)) * 0.2 AS quality_score
      |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
    val stops = sqlList(stopwords)
    Tables.documents(s, d)
      .withColumn("w", words(col("text")))
      // nullif'd denominators: a zero-token/empty doc yields NULL
      // ratios exactly like the oracle's x/0 = NULL in DuckDB, instead
      // of an ANSI DIVIDE_BY_ZERO error
      .withColumn("uniq_ratio",
        size(array_distinct(col("w"))).cast("double")
          / nullif(size(col("w")), lit(0)))
      .withColumn("stop_ratio",
        expr(s"CAST(size(filter(w, x -> x IN ($stops))) AS DOUBLE)")
          / nullif(size(col("w")), lit(0)))
      .withColumn("punct_ratio",
        size(regexp_extract_all(col("text"), lit("[^a-zA-Z0-9 \\t\\n\\f\\r]"), lit(0)))
          .cast("double") / nullif(length(col("text")), lit(0)))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_words"),
        col("uniq_ratio"), col("stop_ratio"), col("punct_ratio"),
        (col("uniq_ratio") * 0.5 + (lit(1.0) - col("stop_ratio")) * 0.3
          + (lit(1.0) - col("punct_ratio")) * 0.2).as("quality_score"))
  }

  // --- C3: language ID (stopword-profile argmax) ---------------------------
  // Deterministic n-gram-free heuristic: score = profile-stopword hits
  // per language, argmax with alphabetical priority. Reported accuracy
  // vs the `lang` label is a data property, not a correctness gate.
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "los", "y", "es", "que"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que"),
    "zh" -> Seq("de", "shi", "le", "zai", "you", "he"))

  val langId = QueryDef.oracled(
    "text_langid", {
      val scores = profiles.map { case (l, ws) =>
        s"len(list_filter(w, x -> x IN (${sqlList(ws)}))) AS s_$l"
      }.mkString(",\n  ")
      val langs = profiles.map(_._1)
      val argmax = langs.init.zipWithIndex.map { case (l, i) =>
        val rest = langs.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"WHEN $rest THEN '$l'"
      }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, lang,
        |            regexp_extract_all(lower(text), '[a-z]+') AS w
        |            FROM documents),
        |s AS (SELECT doc_id, lang,
        |  $scores
        |FROM t)
        |SELECT doc_id,
        |  CASE $argmax ELSE '${langs.last}' END AS pred_lang,
        |  greatest(${langs.map("s_" + _).mkString(", ")}) AS best_score,
        |  CASE $argmax ELSE '${langs.last}' END = lang AS is_correct
        |FROM s ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
    val langs = profiles.map(_._1)
    val scored = profiles.foldLeft(
      Tables.documents(s, d).withColumn("w",
        regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))) {
      case (df, (l, ws)) =>
        df.withColumn(s"s_$l",
          expr(s"CAST(size(filter(w, x -> x IN (${sqlList(ws)}))) AS BIGINT)"))
    }
    val argmax = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $rest THEN '$l'"
    }.mkString(" ")
    scored
      .withColumn("pred_lang", expr(s"CASE $argmax ELSE '${langs.last}' END"))
      .select(col("doc_id"), col("pred_lang"),
        greatest(langs.map(l => col(s"s_$l")): _*).as("best_score"),
        (col("pred_lang") === col("lang")).as("is_correct"))
  }

  // --- C4: document fingerprint (native codegen Expression) ---------------
  // graft.functions.Fingerprint64: 64-bit rolling polynomial hash,
  // h = h*31 + codepoint with wraparound — oracled by an equivalent
  // HUGEINT fold in DuckDB, proving the custom expression end to end.
  val fingerprint = QueryDef.oracled(
    "text_fingerprint",
    """SELECT doc_id,
      |  CAST(h - CASE WHEN h >= CAST('9223372036854775808' AS HUGEINT)
      |                THEN CAST('18446744073709551616' AS HUGEINT)
      |                ELSE 0 END AS BIGINT) AS fingerprint
      |FROM (SELECT doc_id, list_reduce(
      |        list_prepend(CAST(0 AS HUGEINT),
      |          list_transform(regexp_extract_all(text, '[\s\S]'),
      |                         c -> CAST(ord(c) AS HUGEINT))),
      |        (a, c) -> (a*31 + c) % CAST('18446744073709551616' AS HUGEINT)) AS h
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), F.fingerprint64(col("text")).as("fingerprint"))
  }

  // --- C5: cleaning pass ---------------------------------------------------
  // The standard pre-training normalize-and-gate stage: collapse
  // whitespace, trim, drop documents under a minimum token count.
  // Map-only; emits the cleaned text's hash (not the text) so the
  // output stays narrow at corpus scale.
  val clean = QueryDef.oracled(
    "text_clean",
    """SELECT doc_id,
      |  length(trim(regexp_replace(text, '[ \t\n\f\r]+', ' ', 'g'))) AS n_chars_clean,
      |  md5(trim(regexp_replace(text, '[ \t\n\f\r]+', ' ', 'g'))) AS clean_md5
      |FROM documents
      |WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 5""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .filter(size(words(col("text"))) >= 5)
      .withColumn("cleaned", trim(regexp_replace(col("text"), "[ \\t\\n\\f\\r]+", " ")))
      .select(col("doc_id"),
        length(col("cleaned")).cast("long").as("n_chars_clean"),
        md5(col("cleaned")).as("clean_md5"))
  }

  // --- C10: token budget by (source, lang) ---------------------------------
  // The planning table a training run starts from: BPE-ish token mass
  // per stratum, its share of the corpus, and the cumulative share in
  // descending token order ("the top k strata cover X% of tokens").
  // One shuffle to the (source, lang) aggregate; the single-row total
  // broadcasts; the cumulative window runs over the tiny stratum frame.
  val tokenBudget = QueryDef.oracled(
    "corpus_token_budget",
    """WITH t AS (SELECT source, lang,
      |            len(regexp_extract_all(lower(text),
      |                '[a-z]+|[0-9]+|[^a-z0-9 \t\n\f\r]')) AS toks
      |            FROM documents),
      |g AS (SELECT source, lang, count(*) AS n_docs,
      |        CAST(sum(toks) AS BIGINT) AS n_tokens
      |      FROM t GROUP BY 1, 2),
      |tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tt FROM g)
      |SELECT source, lang, n_docs, n_tokens,
      |  CAST(n_tokens AS DOUBLE) / tt AS token_share,
      |  CAST(sum(n_tokens) OVER (ORDER BY n_tokens DESC, source, lang
      |                           ROWS UNBOUNDED PRECEDING) AS DOUBLE) / tt
      |    AS cum_share
      |FROM g, tot
      |ORDER BY n_tokens DESC, source, lang""".stripMargin) { (s, d) =>
    val g = Tables.documents(s, d)
      .select(col("source"), col("lang"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\f\\r]"), lit(0))).as("toks"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
    val tot = g.agg(sum(col("n_tokens")).cast("double").as("tt"))
    // cumulative share via ONE sorted stratum array (r19): the
    // |sources × langs|-bounded frame used to pay an everything-to-one-
    // partition WindowExec (exchange + sort) for the running sum; the
    // prefix sums are exact long additions either way.
    g.agg(collect_list(struct(col("n_tokens"), col("source"), col("lang"),
        col("n_docs"))).as("gs"))
      .select(expr(
        """array_sort(gs, (a, b) -> CASE
          |  WHEN a.n_tokens > b.n_tokens THEN -1
          |  WHEN a.n_tokens < b.n_tokens THEN 1
          |  WHEN a.source < b.source THEN -1 WHEN a.source > b.source THEN 1
          |  WHEN a.lang < b.lang THEN -1 WHEN a.lang > b.lang THEN 1
          |  ELSE 0 END)""".stripMargin).as("gs"))
      .crossJoin(broadcast(tot))
      .select(col("gs"), posexplode(col("gs")), col("tt"))
      .select(col("col.source").as("source"), col("col.lang").as("lang"),
        col("col.n_docs").as("n_docs"), col("col.n_tokens").as("n_tokens"),
        (col("col.n_tokens").cast("double") / col("tt")).as("token_share"),
        (expr("aggregate(slice(gs, 1, pos + 1), CAST(0 AS BIGINT), " +
          "(acc, e) -> acc + e.n_tokens)").cast("double") / col("tt"))
          .as("cum_share"))
      .orderBy(col("n_tokens").desc, col("source"), col("lang"))
  }

  // --- C6: per-source corpus statistics ------------------------------------
  // The rollup a data-curation dashboard reads: volume, language
  // spread and mean quality per source, one shuffle on source.
  val corpusStats = QueryDef.oracled(
    "corpus_source_stats",
    s"""WITH t AS (SELECT source, lang, n_chars,
      |            regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      |            FROM documents)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  count(DISTINCT lang) AS n_langs,
      |  CAST(sum(len(list_distinct(w))) AS DOUBLE) / sum(len(w)) AS mean_uniq_ratio
      |FROM t GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("w", words(col("text")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("lang")).as("n_langs"),
        (sum(size(array_distinct(col("w")))).cast("double")
          / sum(size(col("w")))).as("mean_uniq_ratio"))
      .orderBy(col("source"))
  }

  // --- C7: deterministic stratified sample ---------------------------------
  // Hash-bucket sampling: a document is kept iff the first hex digit of
  // md5(doc_id) falls in a fixed 4/16 bucket set (expected 25%),
  // per-language strata reported alongside. Fully deterministic,
  // engine-independent (md5 hex is identical everywhere), and
  // map-only — the standard reproducible corpus-subset / train-val
  // split primitive at any scale.
  val stratifiedSample = QueryDef.oracled(
    "corpus_stratified_sample",
    """SELECT doc_id, lang, source
      |FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1)
        .isin("0", "1", "2", "3"))
      .select(col("doc_id"), col("lang"), col("source"))
  }

  // --- C8: corpus length distribution --------------------------------------
  // Width-50 histogram of document lengths — the curation dashboard's
  // length-distribution panel; map-side-combined count per bucket.
  val lengthHistogram = QueryDef.oracled(
    "corpus_length_histogram",
    """SELECT n_chars // 50 AS bucket, count(*) AS n_docs,
      |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(expr("n_chars DIV 50").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
      .orderBy(col("bucket"))
  }

  // --- C9: per-document top terms (keyword extraction) ---------------------
  // Term frequency per doc joined with corpus document frequency, top-5
  // per doc by (tf desc, term) with stopwords excluded — the
  // tf-idf-style keyword primitive kept in exact integer space (the
  // ranking is tf-major; df is attached for downstream idf weighting).
  // Two shuffles: (doc,term) count and the df groupBy; WindowGroupLimit
  // prunes the per-doc rank.
  val topTerms = QueryDef.oracled(
    "text_top_terms", {
      val stops = sqlList(stopwords)
      s"""WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |             FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |       WHERE term NOT IN ($stops) GROUP BY doc_id, term),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok
        |       WHERE term NOT IN ($stops) GROUP BY term),
        |r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |             row_number() OVER (PARTITION BY tf.doc_id
        |                                ORDER BY tf.tf DESC, tf.term) AS rk
        |      FROM tf JOIN df ON tf.term = df.term)
        |SELECT doc_id, rk, term, tf, df FROM r WHERE rk <= 5
        |ORDER BY doc_id, rk""".stripMargin
    }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val stops = stopwords
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .filter(!col("term").isin(stops: _*))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tok.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    tf.join(df, Seq("term"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("tf").desc, col("term"))))
      .filter(col("rk") <= 5)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"))
      .orderBy(col("doc_id"), col("rk"))
  }

  // --- C11: deterministic leakage-free train/val/test split ---------------
  // Every pipeline needs a split that (a) is reproducible with no RNG
  // state and (b) sends byte-identical documents to the SAME split —
  // hashing the CONTENT (not doc_id) gives both: an exact duplicate
  // that survived upstream dedup can never straddle train and test.
  // bucket = unsigned(fingerprint64(text)) % 100 → 98/1/1. Map-only,
  // no shuffle; the unsigned widening reuses the Decimal(38,0) idiom
  // of the A3 hashsum (Coordination.fpUnsigned).
  val trainSplit = QueryDef.oracled(
    "corpus_train_split",
    """WITH h AS (SELECT doc_id, list_reduce(
      |    list_prepend(CAST(0 AS HUGEINT),
      |      list_transform(regexp_extract_all(text, '[\s\S]'),
      |                     c -> CAST(ord(c) AS HUGEINT))),
      |    (a, c) -> (a*31 + c) % CAST('18446744073709551616' AS HUGEINT)) AS h
      |  FROM documents)
      |SELECT doc_id, CAST(h % 100 AS INTEGER) AS bucket,
      |  CASE WHEN h % 100 < 98 THEN 'train'
      |       WHEN h % 100 = 98 THEN 'val' ELSE 'test' END AS split
      |FROM h ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("bucket",
        (graft.queries.Coordination.fpUnsigned(col("text")) % 100).cast("int"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < 98, "train")
          .when(col("bucket") === 98, "val")
          .otherwise("test").as("split"))
  }

  // --- C14: sequence packing into fixed context windows -------------------
  // The GPT-style concat-and-chop preprocessing: shard the corpus into
  // independent STREAMS (content-keyed fingerprint shard, like C11 —
  // reproducible, no RNG), concatenate each stream's documents in
  // doc_id order, and chop every 2048 BPE-ish tokens. Each doc lands at
  // a deterministic token offset; the output says which context windows
  // (bins) it feeds and whether it straddles a boundary. All-integer
  // arithmetic → bit-exact.
  //
  // Scale (100 TB): one hash shuffle on stream; the running offset is a
  // per-stream streaming window (one O(n) pass per stream task) — the
  // stream count is the parallelism dial (8 here; thousands on a
  // cluster), and packing never looks across streams, so this is
  // embarrassingly parallel BY CONSTRUCTION, unlike a global cumsum.
  private[graft] val PackStreams = 8
  private[graft] val PackBudget = 2048L

  /** C14's oracle — also A41's (stream_corpus_pack): with per-stream
    * doc_id-ascending arrival the running-offset state reproduces the
    * batch window exactly, so the feed shares this SQL.
    */
  private[graft] val corpusPackOracle: String =
    s"""WITH t AS (SELECT doc_id,
      |    len(regexp_extract_all(lower(text),
      |        '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\f\\r]')) AS toks,
      |    CAST(list_reduce(
      |      list_prepend(CAST(0 AS HUGEINT),
      |        list_transform(regexp_extract_all(text, '[\\s\\S]'),
      |                       c -> CAST(ord(c) AS HUGEINT))),
      |      (a, c) -> (a*31 + c) % CAST('18446744073709551616' AS HUGEINT))
      |      % $PackStreams AS INTEGER) AS stream
      |  FROM documents),
      |w AS (SELECT *, CAST(coalesce(sum(toks) OVER (PARTITION BY stream
      |        ORDER BY doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |        AS BIGINT) AS start_off
      |      FROM t)
      |SELECT stream, doc_id, toks AS n_tokens, start_off,
      |  start_off // $PackBudget AS first_bin,
      |  CASE WHEN toks = 0 THEN start_off // $PackBudget
      |       ELSE (start_off + toks - 1) // $PackBudget END AS last_bin,
      |  CASE WHEN toks = 0 THEN 0
      |       ELSE (start_off + toks - 1) // $PackBudget
      |            - start_off // $PackBudget + 1 END AS n_pieces
      |FROM w ORDER BY stream, doc_id""".stripMargin

  val corpusPack = QueryDef.oracled(
    "corpus_pack", corpusPackOracle) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val t = Tables.documents(s, d)
      .select(col("doc_id"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\f\\r]"), lit(0)))
          .cast("long").as("toks"),
        (graft.queries.Coordination.fpUnsigned(col("text")) % PackStreams)
          .cast("int").as("stream"))
    val w = Window.partitionBy(col("stream")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.withColumn("start_off", coalesce(sum(col("toks")).over(w), lit(0L)))
      .select(col("stream"), col("doc_id"), col("toks").as("n_tokens"),
        col("start_off"),
        expr(s"start_off DIV $PackBudget").as("first_bin"),
        when(col("toks") === 0, expr(s"start_off DIV $PackBudget"))
          .otherwise(expr(s"(start_off + toks - 1) DIV $PackBudget"))
          .as("last_bin"),
        when(col("toks") === 0, lit(0L))
          .otherwise(expr(s"(start_off + toks - 1) DIV $PackBudget" +
            s" - start_off DIV $PackBudget + 1")).as("n_pieces"))
  }

  // --- C40: packing efficiency report (round 14) ----------------------------
  // The number a training-infra team reads after C14 runs: per stream,
  // how much of the context-window budget is real tokens vs padding,
  // and how many documents straddle a window boundary (attention-mask
  // resets / cross-doc contamination candidates). n_bins counts the
  // windows the stream actually fills (ceil(total/budget)); padding is
  // the dead tail of the last window; straddle_share is the fraction
  // of docs split across windows. Pure rollup of C14's per-doc frame —
  // one corpus pass + an 8-key map-side-combinable aggregate; all
  // integer arithmetic except the two final ratios (single divisions,
  // bit-identical cross-engine).
  val packStats = QueryDef.oracled(
    "corpus_pack_stats",
    s"""WITH t AS (SELECT doc_id,
      |    len(regexp_extract_all(lower(text),
      |        '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\f\\r]')) AS toks,
      |    CAST(list_reduce(
      |      list_prepend(CAST(0 AS HUGEINT),
      |        list_transform(regexp_extract_all(text, '[\\s\\S]'),
      |                       c -> CAST(ord(c) AS HUGEINT))),
      |      (a, c) -> (a*31 + c) % CAST('18446744073709551616' AS HUGEINT))
      |      % $PackStreams AS INTEGER) AS stream
      |  FROM documents),
      |w AS (SELECT *, CAST(coalesce(sum(toks) OVER (PARTITION BY stream
      |        ORDER BY doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |        AS BIGINT) AS start_off
      |      FROM t),
      |p AS (SELECT stream, toks,
      |        CASE WHEN toks = 0 THEN 0
      |             ELSE (start_off + toks - 1) // $PackBudget
      |                  - start_off // $PackBudget + 1 END AS n_pieces
      |      FROM w),
      |g AS (SELECT stream, count(*) AS n_docs,
      |        CAST(sum(toks) AS BIGINT) AS total_tokens,
      |        count(*) FILTER (WHERE n_pieces >= 2) AS n_straddlers
      |      FROM p GROUP BY stream)
      |SELECT stream, n_docs, total_tokens,
      |  (total_tokens + ${PackBudget - 1}) // $PackBudget AS n_bins,
      |  CASE WHEN total_tokens % $PackBudget = 0 THEN 0
      |       ELSE $PackBudget - total_tokens % $PackBudget
      |       END AS padding_tokens,
      |  n_straddlers,
      |  CAST(n_straddlers AS DOUBLE) / n_docs AS straddle_share,
      |  CASE WHEN total_tokens = 0 THEN 0.0
      |       ELSE CAST(total_tokens AS DOUBLE)
      |            / (((total_tokens + ${PackBudget - 1}) // $PackBudget)
      |               * $PackBudget) END AS fill_ratio
      |FROM g ORDER BY stream""".stripMargin) { (s, d) =>
    corpusPack.fn(s, d)
      .groupBy(col("stream"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        count(when(col("n_pieces") >= 2, lit(1))).as("n_straddlers"))
      .select(col("stream"), col("n_docs"), col("total_tokens"),
        expr(s"(total_tokens + ${PackBudget - 1}) DIV $PackBudget")
          .as("n_bins"),
        when(expr(s"total_tokens % $PackBudget") === 0, lit(0L))
          .otherwise(expr(s"$PackBudget - total_tokens % $PackBudget"))
          .as("padding_tokens"),
        col("n_straddlers"),
        (col("n_straddlers").cast("double") / col("n_docs"))
          .as("straddle_share"),
        when(col("total_tokens") === 0, lit(0.0))
          .otherwise(col("total_tokens").cast("double") /
            (expr(s"(total_tokens + ${PackBudget - 1}) DIV $PackBudget")
              * PackBudget).cast("double"))
          .as("fill_ratio"))
      .orderBy(col("stream"))
  }

  // --- C12: intra-document repetition scoring -----------------------------
  // The Gopher-family repetition filters (Rae et al. 2021, "Scaling
  // Language Models", Table A1) at this corpus's granularity: the
  // fraction of token and 3-gram OCCURRENCES that are repeats of an
  // earlier occurrence in the same document. Pure map-side arithmetic
  // (no shuffle at all); `flagged` is the curation dial, set at 0.05
  // for this synthetic corpus (its max dup-3-gram fraction is ~0.07).
  val repetition = QueryDef.oracled(
    "text_repetition",
    """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |             FROM documents),
      |g AS (SELECT doc_id, t,
      |        [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)] AS tg
      |      FROM toks)
      |SELECT doc_id,
      |  CAST(len(t) AS BIGINT) AS n_tokens,
      |  CAST(1 AS DOUBLE) - CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS dup_token_frac,
      |  CAST(1 AS DOUBLE) - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg) AS dup_3gram_frac,
      |  (CAST(1 AS DOUBLE) - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg) >= 0.05) AS flagged
      |FROM g WHERE len(t) >= 3 ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("t", F.tokenize_words(col("text")))
      .filter(size(col("t")) >= 3)
      .withColumn("tg", expr(
        "transform(sequence(0, size(t) - 3), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"))
      .select(col("doc_id"),
        size(col("t")).cast("bigint").as("n_tokens"),
        (lit(1.0) - size(array_distinct(col("t"))).cast("double") / size(col("t")))
          .as("dup_token_frac"),
        (lit(1.0) - size(array_distinct(col("tg"))).cast("double") / size(col("tg")))
          .as("dup_3gram_frac"),
        (lit(1.0) - size(array_distinct(col("tg"))).cast("double") / size(col("tg")) >= 0.05)
          .as("flagged"))
  }

  /** Corpus-wide unigram counts, staged once per (session, sf dir) —
    * a vocabulary-sized table read by several branches of C13 (two
    * join sides + the token total). Native tokenize kernel, ONE
    * codegen call per row — a `transform(sequence(...), i -> t[i]...)`
    * HOF here is the round-1 trap squared: CollapseProject inlines the
    * tokenizer into every lambda element access, re-tokenizing the doc
    * per derived element (O(tokens²) — measured 37 s vs ~2 s at
    * sf0.1). Ingest-spread fans the local single-row-group scan out
    * before the kernel (no-op where files split natively).
    */
  private def unigramCounts(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s, s"text.ucnt:$d") {
      Tables.spread(Tables.documents(s, d), s, "doc_id")
        .select(explode(F.tokenize_words(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    }

  /** Corpus-wide adjacent-bigram counts (WITH multiplicity — the
    * native Bigrams2 kernel, not the distinct shingle sets), staged
    * once per (session, sf dir); read by C13's support filter and the
    * bigram total.
    */
  private def bigramCounts(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s, s"text.bcnt:$d") {
      Tables.spread(Tables.documents(s, d), s, "doc_id")
        .select(explode(F.bigrams2(F.tokenize_words(col("text")))).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("n_ab"))
    }

  /** Distinct per-document hashed-bigram pairs (doc_id, xxhash64(bg)),
    * staged once per (session, sf dir). C16's two aggregations (per-doc
    * distinct count, per-bigram df) both consume exactly this set; as
    * two un-staged branches they each re-ran the scan + tokenize +
    * bigram + hash pipeline — the suite's largest repeated CPU burst
    * (the round-8 driver record's 10× outlier). The distinct is folded
    * into the stage so the dedup shuffle also happens once.
    */
  private def docBigramHashes(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s, s"text.dbh:$d") {
      Tables.spread(Tables.documents(s, d), s, "doc_id")
        .select(col("doc_id"),
          explode(F.bigrams2(F.tokenize_words(col("text")))).as("bg"))
        .select(col("doc_id"), xxhash64(col("bg")).as("bh"))
        .distinct()
    }

  /** Staged lexical index: stopword-filtered per-doc term frequencies
    * and the derived document frequencies — ONE tokenization pass
    * serving both C15 (tf·idf ranking) and E18 (hybrid retrieval's
    * lexical side). df is a plain count over tf (one row per
    * (doc, tok)), never a second corpus scan.
    */
  private[queries] def lexTf(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s, s"text.lextf:$d") {
      Tables.spread(Tables.documents(s, d), s, "doc_id")
        .select(col("doc_id"), explode(F.tokenize_words(col("text"))).as("tok"))
        .filter(!col("tok").isin(stopwords: _*))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    }

  private[queries] def lexDf(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s, s"text.lexdf:$d") {
      lexTf(s, d).groupBy(col("tok")).agg(count(lit(1)).as("df"))
    }

  /** Materialize C13's staged count tables, C16's distinct doc-bigram
    * frame, and the C15/E18 lexical index (a timing harness warms these
    * off the measured path, like the dedup family's shingle stages).
    */
  private[graft] def warmStages(s: SparkSession, d: String): Unit =
    // concurrent loads (r18): each artifact is its own parquet scan in
    // warm-load mode; in cold mode shared dependencies (stripStats →
    // chromeGrams) build once under their per-key build locks
    graft.FrameCache.warmConcurrently(Seq(
      () => unigramCounts(s, d).queryExecution.toRdd.count(): Unit,
      () => bigramCounts(s, d).queryExecution.toRdd.count(): Unit,
      () => docBigramHashes(s, d).queryExecution.toRdd.count(): Unit,
      () => lexTf(s, d).queryExecution.toRdd.count(): Unit,
      () => lexDf(s, d).queryExecution.toRdd.count(): Unit,
      () => winnowSel(s, d).queryExecution.toRdd.count(): Unit,
      () => bpeMergesFrame(s, d).queryExecution.toRdd.count(): Unit,
      () => chromeGrams(s, d).queryExecution.toRdd.count(): Unit,
      () => stripStats(s, d).queryExecution.toRdd.count(): Unit))

  // --- C13: collocation extraction (corpus-level bigram lift) -------------
  // The phrase-mining primitive behind tokenizer/vocab induction and
  // Mikolov-style phrase merging: score every adjacent token bigram by
  // LIFT = p(ab) / (p(a)·p(b)) — how much more often the pair co-occurs
  // than independence predicts (PMI without the log, so the score stays
  // a ratio of exact integer counts and one double division chain:
  // bit-comparable across engines, no libm). Min support 5 kills
  // one-off pairs; top 50 by (lift, token_a, token_b).
  //
  // Scale (100 TB): unigram and bigram counts are partial-aggregated
  // map-side (classic word-count); the full unigram table is the whole
  // vocabulary, so it is first semi-joined down to the tokens that
  // actually appear in support-surviving bigrams (≤ 2·|bcnt| rows —
  // bcnt is tiny post-filter) and only THAT projection is broadcast
  // into the two scoring joins; the final top-50 is
  // TakeOrderedAndProject — per-partition heads, no global sort.
  val collocations = QueryDef.oracled(
    "text_collocations",
    """WITH toks AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |              FROM documents),
      |uni AS (SELECT unnest(t) AS tok FROM toks),
      |ucnt AS (SELECT tok, count(*) AS n FROM uni GROUP BY 1),
      |tot AS (SELECT count(*) AS n_tokens FROM uni),
      |bi AS (SELECT unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bg
      |       FROM toks),
      |btot AS (SELECT count(*) AS n_bigrams FROM bi),
      |bcnt AS (SELECT split_part(bg, ' ', 1) AS token_a,
      |                split_part(bg, ' ', 2) AS token_b, count(*) AS n_ab
      |         FROM bi GROUP BY 1, 2 HAVING count(*) >= 5),
      |sc AS (SELECT token_a, token_b, n_ab, ua.n AS n_a, ub.n AS n_b,
      |         CAST(n_ab AS DOUBLE) * n_tokens * n_tokens
      |           / (CAST(n_bigrams AS DOUBLE) * ua.n * ub.n) AS lift
      |       FROM bcnt JOIN ucnt ua ON token_a = ua.tok
      |                 JOIN ucnt ub ON token_b = ub.tok, tot, btot)
      |SELECT token_a, token_b, n_ab, n_a, n_b, lift
      |FROM sc ORDER BY lift DESC, token_a, token_b LIMIT 50""".stripMargin) { (s, d) =>
    val ucnt = unigramCounts(s, d)
    val bcntAll = bigramCounts(s, d)
    val tot = ucnt.agg(sum(col("n")).as("n_tokens"))
    val btot = bcntAll.agg(sum(col("n_ab")).as("n_bigrams"))
    val bcnt = bcntAll.filter(col("n_ab") >= 5)
      .select(element_at(split(col("bg"), " "), 1).as("token_a"),
        element_at(split(col("bg"), " "), 2).as("token_b"), col("n_ab"))
    // The support-filtered bigram list is the TINY side — broadcast IT
    // into the vocabulary table (streamed map-only off the staged
    // frame) rather than semi-joining the vocabulary down and
    // broadcasting the survivors: same n_a/n_b values (bigram tokens
    // are by construction unigram tokens), one less distinct and two
    // fewer vocabulary broadcasts (the round-8 0.5 → 1.0 s regression),
    // and at 100 TB the build side is the one the support filter
    // bounds, while the vocabulary only ever streams.
    val withA = ucnt.join(broadcast(bcnt), col("tok") === col("token_a"))
      .select(col("token_a"), col("token_b"), col("n_ab"),
        col("n").as("n_a"))
    ucnt.join(broadcast(withA), col("tok") === col("token_b"))
      .select(col("token_a"), col("token_b"), col("n_ab"), col("n_a"),
        col("n").as("n_b"))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(btot))
      // same association order as the oracle: ((n_ab·N)·N) / ((B·n_a)·n_b)
      .withColumn("lift",
        col("n_ab").cast("double") * col("n_tokens") * col("n_tokens")
          / (col("n_bigrams").cast("double") * col("n_a") * col("n_b")))
      .select(col("token_a"), col("token_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("lift"))
      .orderBy(col("lift").desc, col("token_a"), col("token_b"))
      .limit(50)
  }

  // --- C15: TF-IDF keyword extraction --------------------------------------
  // The idf-weighted upgrade of C9: score = tf · (N / df) — raw idf
  // rather than log(N/df) because log is a transcendental whose last
  // ulp is not pinned by IEEE 754 across engines, while the raw ratio
  // is two correctly-rounded ops (×, ÷) on exact integers — bit-equal
  // in Spark and DuckDB as long as both evaluate the same
  // left-associated tree, and monotone in the log variant at fixed tf,
  // so the RANKING only reorders across tf levels (which is the point
  // of idf). Same two shuffles as C9 ((doc,term) tf and the term df);
  // the corpus size N broadcasts as a single-row frame. At 100 TB the
  // df table is vocabulary-sized (≪ corpus) and the top-3 filter is a
  // WindowGroupLimit partial — no new scale surface beyond C9's.
  val tfidf = QueryDef.oracled(
    "text_tfidf", {
      val stops = sqlList(stopwords)
      s"""WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |             FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
        |       WHERE term NOT IN ($stops) GROUP BY doc_id, term),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok
        |       WHERE term NOT IN ($stops) GROUP BY term),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |              CAST(tf.tf AS DOUBLE) * n_docs / df.df AS score,
        |              row_number() OVER (PARTITION BY tf.doc_id
        |                ORDER BY CAST(tf.tf AS DOUBLE) * n_docs / df.df DESC,
        |                         tf.term) AS rk
        |       FROM tf JOIN df ON tf.term = df.term CROSS JOIN nd)
        |SELECT doc_id, rk, term, tf, df, score FROM sc WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin
    }) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // both frames ride the staged lexical index (shared with E18) —
    // one corpus tokenization pass for the whole suite
    val tf = lexTf(s, d).withColumnRenamed("tok", "term")
    val dfr = lexDf(s, d).withColumnRenamed("tok", "term")
    val nd = broadcast(Tables.documents(s, d).agg(count(lit(1)).as("n_docs")))
    tf.join(dfr, Seq("term")).crossJoin(nd)
      // same left-associated tree as the oracle: (tf · N) / df
      .withColumn("score",
        col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"),
        col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  // --- C16: cross-document bigram novelty ----------------------------------
  // Per-document fraction of its DISTINCT adjacent bigrams that occur
  // in no other document — the diversity/boilerplate signal dual to
  // C12's intra-document repetition: near-zero novelty marks template
  // text (navigation chrome, license headers) that survives exact and
  // near dedup because the surrounding document differs. Shares the D2
  // shingle philosophy but at the bigram granularity the LM actually
  // trains on. Exact integer counts; the one double op is the final
  // correctly-rounded divide.
  //
  // Scale (100 TB): bigrams are reduced to 8-byte xxhash64 keys at the
  // scan (the D2b capped-index precedent: strings never reach a
  // shuffle; collision odds ~|vocab|²/2⁶⁵), and the novel count needs
  // NO join back to the big frame — a bigram with df = 1 has exactly
  // one owning document, so min(doc_id) in the same df aggregation
  // names it, and filter(df=1).groupBy(owner) is a vocabulary-sized
  // rollup. The distinct (doc_id, hash) set is a staged frame
  // (docBigramHashes — built once, read by both aggregations); each
  // consumer is then one shuffle with map-side partials and the final
  // join is doc-count-sized. First cut joined the 3M-row string frame
  // back on bg: 14.5 s → this shape at sf0.1.
  val bigramNovelty = QueryDef.oracled(
    "text_bigram_novelty",
    """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |              FROM documents),
      |bi AS (SELECT doc_id, unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bg
      |       FROM toks),
      |db AS (SELECT DISTINCT doc_id, bg FROM bi),
      |df AS (SELECT bg, count(*) AS df FROM db GROUP BY 1)
      |SELECT db.doc_id, count(*) AS n_distinct,
      |       count(*) FILTER (WHERE df = 1) AS n_novel,
      |       CAST(count(*) FILTER (WHERE df = 1) AS DOUBLE) / count(*) AS novelty
      |FROM db JOIN df USING (bg)
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val db = docBigramHashes(s, d)
    val perDoc = db.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct"))
    val novel = db.groupBy(col("bh"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("owner"))
      .filter(col("df") === 1)
      .groupBy(col("owner").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left").na.fill(0L, Seq("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_distinct"))
      .select(col("doc_id"), col("n_distinct"), col("n_novel"), col("novelty"))
  }

  // --- C17: source rebalancing (deterministic downsampling) ----------------
  // The pretraining-mix primitive: a doc budget of N/2 is allocated
  // uniformly across sources, cap = ceil(N / (2·|sources|)) — sources
  // over their allocation are downsampled to it, sources under it kept
  // whole (the flattening direction of temperature-<1 source mixing).
  // Keep doc iff fingerprint64(text) mod n_source < cap, so the kept
  // count per source is ≈ min(n_source, cap) with ZERO floating point
  // (the keep test is pure integer arithmetic) and no RNG state.
  // Hashing the CONTENT (same argument as C11) keeps byte-identical
  // duplicates together: they are either all kept or all dropped, so
  // the rebalanced corpus never splits a dup cluster.
  //
  // Scale (100 TB): map-only over the corpus — the per-source counts
  // and the cap are two tiny broadcast frames (|sources| rows and one
  // row); no shuffle of the fact table at all, which is exactly what a
  // sampling pass over 100 TB must be.
  val rebalance = QueryDef.oracled(
    "corpus_rebalance",
    """WITH h AS (SELECT doc_id, source, list_reduce(
      |    list_prepend(CAST(0 AS HUGEINT),
      |      list_transform(regexp_extract_all(text, '[\s\S]'),
      |                     c -> CAST(ord(c) AS HUGEINT))),
      |    (a, c) -> (a*31 + c) % CAST('18446744073709551616' AS HUGEINT)) AS h
      |  FROM documents),
      |sn AS (SELECT source, count(*) AS n_source FROM documents GROUP BY 1),
      |cap AS (SELECT (count(*) + 2 * count(DISTINCT source) - 1)
      |                 // (2 * count(DISTINCT source)) AS cap FROM documents)
      |SELECT doc_id, source, n_source, cap
      |FROM h JOIN sn USING (source), cap
      |WHERE h % n_source < cap
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val sn = broadcast(docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_source")))
    val cap = broadcast(docs
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"))
      .select(expr("(n_docs + 2 * n_sources - 1) DIV (2 * n_sources)")
        .as("cap")))
    docs.join(sn, Seq("source"))
      .crossJoin(cap)
      .filter(graft.queries.Coordination.fpUnsigned(col("text"))
        % col("n_source") < col("cap"))
      // O(N) output ships unsorted (the correctness gate compares sets;
      // a global presentation sort is a full range-shuffle at scale)
      .select(col("doc_id"), col("source"), col("n_source"), col("cap"))
  }

  // --- C18: vocabulary coverage / OOV rate ---------------------------------
  // The tokenizer-fit primitive: per document, what fraction of its
  // token OCCURRENCES falls outside the corpus's top-1000 vocabulary —
  // high OOV-rate docs are the ones a fixed vocab (or a BPE merge
  // table trained on this corpus) will shatter into bytes. Vocabulary
  // = top 1000 tokens by corpus frequency, ties broken by token asc so
  // the cutoff is deterministic in both engines.
  //
  // Scale (100 TB): the vocab comes from the STAGED unigram count
  // table (C13's artifact — built once, read here as a top-k over a
  // vocabulary-sized frame: TakeOrderedAndProject, partial top-k per
  // partition, no global sort of corpus data). The corpus pass is
  // explode → BROADCAST left join against the 1000-row vocab → one
  // doc-keyed aggregation with map-side partials — the C16 shape: the
  // only shuffle ships (doc_id, two counts).
  private[graft] val VocabK = 1000

  /** Single-row frame holding the corpus top-[[VocabK]] vocabulary as
    * one sorted array — the broadcastable static side of the A32
    * stream-static join (an online OOV monitor joins arriving docs
    * against the vocabulary a batch job derived). Ties at the cutoff
    * break (count desc, token asc), exactly C18's rule, so the SET is
    * deterministic in both engines; array order is presentation-only
    * (membership tests don't see it).
    */
  private[graft] def topVocabRow(s: SparkSession, d: String): DataFrame =
    unigramCounts(s, d).orderBy(col("n").desc, col("tok")).limit(VocabK)
      .agg(sort_array(collect_list(col("tok"))).as("vocab"))
  val vocabCoverage = QueryDef.oracled(
    "vocab_coverage",
    s"""WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      |              FROM documents),
      |v AS (SELECT tok FROM (SELECT tok, count(*) AS n FROM toks GROUP BY 1)
      |      ORDER BY n DESC, tok LIMIT $VocabK),
      |pd AS (SELECT t.doc_id, count(*) AS n_tokens, count(v.tok) AS n_in
      |       FROM toks t LEFT JOIN v ON t.tok = v.tok GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(pd.n_tokens, 0) AS n_tokens,
      |  coalesce(pd.n_tokens - pd.n_in, 0) AS n_oov,
      |  CAST(pd.n_tokens - pd.n_in AS DOUBLE) / pd.n_tokens AS oov_rate
      |FROM documents d LEFT JOIN pd USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val vocab = unigramCounts(s, d)
      .orderBy(col("n").desc, col("tok")).limit(VocabK)
      .select(col("tok"), lit(1).as("inv"))
    val pd = Tables.spread(Tables.documents(s, d), s, "doc_id")
      .select(col("doc_id"), explode(F.tokenize_words(col("text"))).as("tok"))
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nt"), count(col("inv")).as("n_in"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(pd, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nt"), lit(0L)).as("n_tokens"),
        coalesce(col("nt") - col("n_in"), lit(0L)).as("n_oov"),
        ((col("nt") - col("n_in")).cast("double") / col("nt")).as("oov_rate"))
      .orderBy(col("doc_id"))
  }

  // --- C19: document chunking (overlapping token windows) ------------------
  // The RAG/embedding-prep primitive C14's packing is NOT: packing
  // concatenates docs into training contexts, chunking splits ONE doc
  // into overlapping windows each embedded/indexed on its own. Window
  // W=32 tokens, stride S=24 (8-token overlap keeps boundary context);
  // chunk count = 1 + ceil((n-W)/S) in pure integer arithmetic, last
  // chunk clamps at the doc end. Output = one row per chunk with its
  // token span and content digest.
  //
  // Scale (100 TB): map-only — tokenize, explode a per-doc chunk-index
  // sequence (fan-out ≈ n/S per doc, bounded by doc length), slice +
  // digest. No shuffle anywhere; the ORDER BY is presentation-only.
  private val ChunkW = 32
  private val ChunkS = 24
  val corpusChunk = QueryDef.oracled(
    "corpus_chunk",
    s"""WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |              FROM documents),
      |d AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
      |c AS (SELECT doc_id, t, n,
      |        unnest(range(0, 1 + CASE WHEN n <= $ChunkW THEN 0
      |          ELSE (n - $ChunkW + ${ChunkS - 1}) // $ChunkS END)) AS chunk_idx
      |      FROM d)
      |SELECT doc_id, chunk_idx, chunk_idx * $ChunkS AS start_tok,
      |  least($ChunkW, n - chunk_idx * $ChunkS) AS n_chunk_tokens,
      |  md5(array_to_string(list_slice(t, chunk_idx * $ChunkS + 1,
      |      chunk_idx * $ChunkS + $ChunkW), ' ')) AS chunk_md5
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
    val toks = Tables.spread(Tables.documents(s, d), s, "doc_id")
      .select(col("doc_id"), F.tokenize_words(col("text")).as("t"))
      .withColumn("n", size(col("t")).cast("long"))
      .filter(col("n") > 0)
    // extra chunks past the first: ceil((n-W)/S) via integer div (all
    // operands positive, so truncation = floor)
    val extra = when(col("n") <= ChunkW, lit(0L))
      .otherwise(expr(s"(n - $ChunkW + ${ChunkS - 1}) div $ChunkS"))
    toks
      .withColumn("chunk_idx", explode(sequence(lit(0L), extra)))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * ChunkS).as("start_tok"),
        least(lit(ChunkW.toLong), col("n") - col("chunk_idx") * ChunkS)
          .as("n_chunk_tokens"),
        md5(concat_ws(" ", slice(col("t"),
          (col("chunk_idx") * ChunkS + 1).cast("int"), lit(ChunkW))))
          .as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  // --- C20: unigram-LM document scoring ------------------------------------
  // The CCNet-family quality signal (Wenzek et al. 2020 score docs by
  // LM perplexity; the unigram degeneration of that is "how common are
  // this doc's tokens in the corpus"): per doc, the mean and min
  // corpus frequency over its token OCCURRENCES. A doc of rare tokens
  // (low mean, min 1) is gibberish-or-treasure; a doc of stopwords
  // scores high. RAW counts, not log-probs — log's last ulp is not
  // IEEE-pinned across engines while integer sums + one divide are
  // correctly rounded (the C15 raw-idf argument), and the score is
  // order-equivalent for fixed doc length.
  //
  // Scale (100 TB): rides the staged unigram table (vocabulary-sized —
  // built once under `_stage`, the tokenizer's count table); the
  // corpus pass is explode → join on token (AQE broadcasts the vocab
  // when it fits, hash join otherwise — no hint pinned) → one
  // doc-keyed aggregate with map-side partials. DECIMAL(38,0) exact
  // frequency sums: sum of counts overflows BIGINT at corpus scale.
  /** Per-doc unigram-LM stats `(doc_id, nt, mean_n, min_n)` over docs
    * with ≥ 1 token — C20's score pipeline, shared with C24's
    * bucketing. Rides the staged unigram count table.
    */
  private def unigramScored(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables.documents(s, d), s, "doc_id")
      .select(col("doc_id"), explode(F.tokenize_words(col("text"))).as("tok"))
      .join(unigramCounts(s, d), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nt"),
        (sum(col("n").cast("decimal(38,0)")).cast("double") / count(lit(1)))
          .as("mean_n"),
        min(col("n")).as("min_n"))

  /** The C20 score CTE chain (tok/u/pd) — ONE SQL definition of the
    * unigram-LM score, quoted by both the C20 and C24 oracles.
    */
  private val unigramPdSql =
    """tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      |             FROM documents),
      |u AS (SELECT tok, count(*) AS n FROM tok GROUP BY 1),
      |pd AS (SELECT t.doc_id, count(*) AS nt,
      |         CAST(sum(u.n) AS DOUBLE) / count(*) AS mean_n,
      |         min(u.n) AS min_n
      |       FROM tok t JOIN u USING (tok) GROUP BY 1)""".stripMargin

  val unigramLm = QueryDef.oracled(
    "text_unigram_lm",
    s"""WITH $unigramPdSql
      |SELECT d.doc_id, coalesce(pd.nt, 0) AS n_tokens,
      |  pd.mean_n AS mean_tok_count, pd.min_n AS min_tok_count
      |FROM documents d LEFT JOIN pd USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val pd = unigramScored(s, d)
    Tables.documents(s, d).select(col("doc_id"))
      .join(pd, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("nt"), lit(0L)).as("n_tokens"),
        col("mean_n").as("mean_tok_count"), col("min_n").as("min_tok_count"))
      .orderBy(col("doc_id"))
  }

  // --- C21: bigram-LM transition scoring ------------------------------------
  // The bigram upgrade of C20's unigram scoring — the LM-filter family
  // complete at both orders: per doc, over its adjacent-bigram
  // OCCURRENCES, the pooled corpus transition mass
  // sum(cnt(ab)) / sum(cnt(a)) (how strongly the corpus backs the
  // doc's token TRANSITIONS, not just its tokens) and the weakest
  // single transition min(cnt(ab)/cnt(a)). A doc of common words in a
  // never-seen order scores high on C20 and low here — the word-salad
  // signal. All scores are ratios of exact integers (DECIMAL sums, one
  // double divide; each per-bigram p is one divide) — bit-identical
  // cross-engine, the C15/C20 raw-count argument at order 2.
  //
  // Scale (100 TB): rides BOTH staged count tables (unigram vocab +
  // bigram table — built once under `_stage`); the corpus pass is one
  // (doc, bigram) explode joined to the bigram counts on the bigram
  // key (the one big shuffle), the first-token vocab join (AQE
  // broadcast when it fits), then a doc-keyed aggregate with map-side
  // partials.
  val bigramLm = QueryDef.oracled(
    "text_bigram_lm",
    """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |              FROM documents),
      |uni AS (SELECT unnest(t) AS tok FROM toks),
      |ucnt AS (SELECT tok, count(*) AS n FROM uni GROUP BY 1),
      |bi AS (SELECT doc_id,
      |         unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bg
      |       FROM toks),
      |bcnt AS (SELECT bg, count(*) AS n_ab FROM bi GROUP BY 1),
      |sc AS (SELECT b.doc_id, c.n_ab, u.n AS n_a,
      |         CAST(c.n_ab AS DOUBLE) / u.n AS pab
      |       FROM bi b JOIN bcnt c USING (bg)
      |                 JOIN ucnt u ON split_part(b.bg, ' ', 1) = u.tok),
      |pd AS (SELECT doc_id, count(*) AS n_bigrams,
      |         CAST(sum(n_ab) AS DOUBLE) / CAST(sum(n_a) AS DOUBLE) AS trans_mass,
      |         min(pab) AS min_pab
      |       FROM sc GROUP BY 1)
      |SELECT d.doc_id, coalesce(pd.n_bigrams, 0) AS n_bigrams,
      |       pd.trans_mass, pd.min_pab
      |FROM documents d LEFT JOIN pd USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val bi = Tables.spread(Tables.documents(s, d), s, "doc_id")
      .select(col("doc_id"),
        explode(F.bigrams2(F.tokenize_words(col("text")))).as("bg"))
    val pd = bi
      .join(bigramCounts(s, d), Seq("bg"))
      .withColumn("tok", element_at(split(col("bg"), " "), 1))
      .join(unigramCounts(s, d), Seq("tok"))
      .withColumn("pab", col("n_ab").cast("double") / col("n"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("n_ab").cast("decimal(38,0)")).cast("double")
          / sum(col("n").cast("decimal(38,0)")).cast("double")).as("trans_mass"),
        min(col("pab")).as("min_pab"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(pd, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("trans_mass"), col("min_pab"))
      .orderBy(col("doc_id"))
  }

  // --- C22: importance scoring for targeted data selection ------------------
  // The DSIR idea (Xie et al. 2023 select pretraining data by
  // importance weights between a small target domain and the raw
  // corpus) in the engine's integer-exact form: target = the held-out
  // benchmark set (doc_id % 20 = 0, the D9/D12 convention), and each
  // candidate doc scores target_mass / corpus_mass over its token
  // OCCURRENCES — what fraction of the corpus-wide usage of this doc's
  // tokens comes from the target domain. High score = the doc speaks
  // the target's vocabulary; the downstream sampler keeps the top
  // slice. RAW count sums, not log-ratios: log's last ulp is not
  // IEEE-pinned across engines (the C15/C20 argument) while integer
  // sums + one divide per output are bit-identical, and for selection
  // only the ORDER of scores matters.
  //
  // Scale (100 TB): the target-side count table is eval-suite-sized —
  // broadcast; the corpus side rides the STAGED unigram table (built
  // once under `_stage`, AQE broadcasts it when it fits) and the scan
  // is explode → two vocab joins → one doc-keyed aggregate with
  // map-side partials. No corpus self-join, no window.
  val importance = QueryDef.oracled(
    "corpus_importance",
    """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      |             FROM documents),
      |u AS (SELECT tok, count(*) AS n FROM tok GROUP BY 1),
      |tgt AS (SELECT tok, count(*) AS tn FROM tok WHERE doc_id % 20 = 0 GROUP BY 1)
      |SELECT t.doc_id, count(*) AS n_tokens,
      |  CAST(sum(coalesce(tgt.tn, 0)) AS BIGINT) AS target_mass,
      |  CAST(sum(u.n) AS BIGINT) AS corpus_mass,
      |  CAST(sum(coalesce(tgt.tn, 0)) AS DOUBLE)
      |    / CAST(sum(u.n) AS DOUBLE) AS importance
      |FROM tok t JOIN u USING (tok) LEFT JOIN tgt USING (tok)
      |WHERE t.doc_id % 20 <> 0
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val tok = Tables.spread(Tables.documents(s, d), s, "doc_id")
      .select(col("doc_id"), explode(F.tokenize_words(col("text"))).as("tok"))
    val tgt = broadcast(tok.filter(pmod(col("doc_id"), lit(20)) === 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("tn")))
    tok.filter(pmod(col("doc_id"), lit(20)) =!= 0)
      .join(unigramCounts(s, d), Seq("tok"))
      .join(tgt, Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("tn"), lit(0L)).cast("decimal(38,0)"))
          .cast("long").as("target_mass"),
        sum(col("n").cast("decimal(38,0)")).cast("long").as("corpus_mass"))
      // post-agg ratio from the named masses (longs < 2^53 convert
      // exactly, so this equals the oracle's sum-tree divide)
      .withColumn("importance",
        col("target_mass").cast("double") / col("corpus_mass").cast("double"))
      .orderBy(col("doc_id"))
  }

  // --- C23: PII detection + redaction (round 10) ---------------------------
  // The scrubbing pass every training pipeline runs before tokenizing:
  // emails → <EMAIL>, phone numbers → <PHONE>, long digit runs (ids,
  // SSNs, cards) → <NUM>, applied in that order so a pattern never
  // fires inside an earlier replacement, with per-doc detection counts
  // and a redacted-content hash. The patterns stay in the
  // Java-regex ∩ RE2 common dialect (character classes + bounded
  // repetition, no lookaround), so Spark and DuckDB scrub
  // bit-identically — that parity IS the oracle.
  //
  // The synthetic corpus carries no PII, so the query plants a
  // deterministic doc_id-derived contact block into each document
  // inside BOTH engines (the F-family pattern: synthetic payloads
  // fabricated from `documents` in the query itself) — every row then
  // exercises every pattern, and the oracle is non-vacuous. On real
  // data the seam is [[scrubText]] applied to the raw column.
  //
  // Scale (100 TB): map-only — three codegen'd regexp_replace passes
  // over the scan, no shuffle but the presentation sort.
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhonePat = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
  private val NumPat = "[0-9]{6,}"

  /** The three-stage scrub over an arbitrary text column — the
    * real-data entry point (specs plant real-world-shaped PII).
    */
  private[graft] def scrubText(c: Column): Column =
    regexp_replace(
      regexp_replace(regexp_replace(c, EmailPat, "<EMAIL>"),
        PhonePat, "<PHONE>"),
      NumPat, "<NUM>")

  val piiScrub = QueryDef.oracled(
    "text_pii_scrub",
    s"""WITH aug AS (SELECT doc_id,
      |    text || ' contact user' || CAST(doc_id AS VARCHAR)
      |         || '@mail' || CAST(doc_id % 100 AS VARCHAR)
      |         || '.example.com ref '
      |         || lpad(CAST(doc_id * 2654435761 % 1000000000 AS VARCHAR), 9, '0')
      |         || ' call +1-555-'
      |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS a
      |  FROM documents),
      |s1 AS (SELECT doc_id, a,
      |         regexp_replace(a, '$EmailPat', '<EMAIL>', 'g') AS r1 FROM aug),
      |s2 AS (SELECT doc_id, a, r1,
      |         regexp_replace(r1, '$PhonePat', '<PHONE>', 'g') AS r2 FROM s1),
      |s3 AS (SELECT doc_id, a, r1, r2,
      |         regexp_replace(r2, '$NumPat', '<NUM>', 'g') AS r3 FROM s2)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(a, '$EmailPat')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(r1, '$PhonePat')) AS BIGINT) AS n_phones,
      |  CAST(len(regexp_extract_all(r2, '$NumPat')) AS BIGINT) AS n_ids,
      |  CAST(length(a) - length(r3) AS BIGINT) AS n_redacted_chars,
      |  md5(r3) AS clean_hash
      |FROM s3 ORDER BY doc_id""".stripMargin) { (s, d) =>
    val aug = concat(col("text"), lit(" contact user"),
      col("doc_id").cast("string"), lit("@mail"),
      (col("doc_id") % 100).cast("string"), lit(".example.com ref "),
      lpad((col("doc_id") * 2654435761L % 1000000000L).cast("string"), 9, "0"),
      lit(" call +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    Tables.documents(s, d)
      .withColumn("a", aug)
      .withColumn("r1", regexp_replace(col("a"), EmailPat, "<EMAIL>"))
      .withColumn("r2", regexp_replace(col("r1"), PhonePat, "<PHONE>"))
      .withColumn("r3", regexp_replace(col("r2"), NumPat, "<NUM>"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("a"), lit(EmailPat), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("r1"), lit(PhonePat), lit(0)))
          .cast("long").as("n_phones"),
        size(regexp_extract_all(col("r2"), lit(NumPat), lit(0)))
          .cast("long").as("n_ids"),
        (length(col("a")) - length(col("r3"))).cast("long")
          .as("n_redacted_chars"),
        md5(col("r3")).as("clean_hash"))
  }

  // --- C24: CCNet-style quality buckets (round 10) -------------------------
  // Wenzek et al. 2020 split each language's corpus into head/middle/
  // tail by LM-score tertiles and train on the head. Here: exact
  // tertile BOUNDARIES of the C20 unigram-LM score via the shared
  // range-partitioned two-pass rank (Analytics.exactQuantileBoundaries
  // — the scale-safe ntile(3), no global window sort), then a map-side
  // value-vs-boundary bucket per doc. High mean corpus frequency =
  // common text = head; zero-token docs land in tail by definition.
  // Ties on the score share a bucket (value-based buckets, engine-
  // deterministic); the score itself is one correctly-rounded double
  // from exact integer sums, so comparisons agree bit-exactly.
  val qualityBuckets = QueryDef.oracled(
    "corpus_quality_buckets",
    s"""WITH $unigramPdSql,
      |rr AS (SELECT mean_n, row_number() OVER (ORDER BY mean_n, doc_id) AS rn,
      |              count(*) OVER () AS n FROM pd),
      |tb AS (SELECT list(b ORDER BY q) AS bl FROM (
      |         SELECT t.q AS q,
      |                max(CASE WHEN rn = (t.q*n+t.q)//3 THEN mean_n END) AS b
      |         FROM rr CROSS JOIN range(1,3) t(q) GROUP BY t.q))
      |SELECT d.doc_id, coalesce(pd.nt, 0) AS n_tokens, pd.mean_n AS score,
      |  CASE WHEN pd.mean_n IS NULL THEN 'tail'
      |       ELSE ['tail','middle','head'][
      |         CAST(1 + len(list_filter(tb.bl, x -> x < pd.mean_n)) AS INTEGER)]
      |  END AS bucket
      |FROM documents d LEFT JOIN pd USING (doc_id) CROSS JOIN tb
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val pd = unigramScored(s, d).localCheckpoint()
    val tb = graft.queries.Analytics
      .exactQuantileBoundaries(s, pd, col("mean_n"), col("doc_id"), 3)
      .agg(array_sort(collect_list(struct(col("q"), col("boundary")))).as("qs"))
      .select(expr("transform(qs, x -> x.boundary)").as("bl"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(pd, Seq("doc_id"), "left")
      .crossJoin(broadcast(tb))
      .select(col("doc_id"), coalesce(col("nt"), lit(0L)).as("n_tokens"),
        col("mean_n").as("score"),
        when(col("mean_n").isNull, lit("tail"))
          .otherwise(element_at(
            array(lit("tail"), lit("middle"), lit("head")),
            (lit(1) + expr(
              "aggregate(bl, 0, (acc, x) -> acc + IF(x < mean_n, 1, 0))"))))
          .as("bucket"))
      .orderBy(col("doc_id"))
  }

  // --- C25: mixture / epoch planning (round 10) ----------------------------
  // The Dolma/Pile/LLaMA mixture table: given the corpus, plan a
  // temperature-2 source mixture at a budget equal to the corpus token
  // count — weight_s = floor(sqrt(avail_s)) (sub-linear upsampling:
  // big sources are damped, small sources repeat), target_s =
  // (B·w_s) div Σw, epochs = ceil(target/avail), sampling rate in
  // exact parts-per-million. Everything is integer arithmetic except
  // sqrt — one of IEEE 754's five CORRECTLY-ROUNDED basic operations,
  // so floor(sqrt(bigint)) is deterministic cross-engine (unlike log:
  // the C15/C20 argument bites transcendentals, not sqrt).
  //
  // Scale (100 TB): one map-side-combined groupBy(source) over the
  // corpus scan (tokens counted in the scan projection, never
  // materialized), then a |sources|-row frame with a broadcast scalar
  // — the plan's cost is the scan, as a sampling planner's must be.
  val mixture = QueryDef.oracled(
    "corpus_mixture",
    """WITH t AS (SELECT source,
      |            len(regexp_extract_all(lower(text),
      |                '[a-z]+|[0-9]+|[^a-z0-9 \t\n\f\r]')) AS toks
      |            FROM documents),
      |g AS (SELECT source, CAST(sum(toks) AS BIGINT) AS avail
      |      FROM t GROUP BY 1),
      |w AS (SELECT source, avail,
      |        CAST(floor(sqrt(CAST(avail AS DOUBLE))) AS BIGINT) AS weight
      |      FROM g),
      |tot AS (SELECT CAST(sum(avail) AS BIGINT) AS b,
      |               CAST(sum(weight) AS BIGINT) AS wsum FROM w),
      |tg AS (SELECT source, avail, weight,
      |         (CAST(b AS HUGEINT) * weight) // wsum AS target
      |       FROM w, tot)
      |SELECT source, avail AS avail_tokens, weight,
      |       CAST(target AS BIGINT) AS target_tokens,
      |       CAST((target + avail - 1) // avail AS BIGINT) AS epochs,
      |       CAST((target * 1000000) // avail AS BIGINT) AS sample_ppm
      |FROM tg ORDER BY source""".stripMargin) { (s, d) =>
    val g = Tables.documents(s, d)
      .select(col("source"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\f\\r]"), lit(0))).as("toks"))
      .groupBy(col("source"))
      .agg(sum(col("toks")).as("avail"))
      .withColumn("weight",
        floor(sqrt(col("avail").cast("double"))).cast("long"))
    val tot = g.agg(sum(col("avail")).as("b"), sum(col("weight")).as("wsum"))
    // b·weight and target·1e6 overflow BIGINT at warehouse token counts
    // (1e13 tokens × sqrt-weight ≈ 3e19 > 2⁶³) — widen to DECIMAL(38,0)
    // for the products; `div` returns the integral quotient, which fits
    g.crossJoin(broadcast(tot))
      .withColumn("target",
        expr("(CAST(b AS DECIMAL(38,0)) * weight) div wsum"))
      .select(col("source"), col("avail").as("avail_tokens"), col("weight"),
        col("target").as("target_tokens"),
        expr("(target + avail - 1) div avail").as("epochs"),
        expr("(CAST(target AS DECIMAL(38,0)) * 1000000) div avail")
          .as("sample_ppm"))
      .orderBy(col("source"))
  }

  // --- C26: lexical diversity — Simpson index (round 10) -------------------
  // The collision-probability quality signal next to C12's repetition
  // fraction: for two tokens drawn without replacement from a doc, the
  // chance they are the SAME type — Σc(c−1)/(n(n−1)) — reported as
  // diversity = 1 − collision (the unbiased Gini–Simpson estimator,
  // scale-free where C12's dup fraction is occurrence-weighted). Both
  // sums are exact integers; the final value is one identical
  // three-op double tree. Docs with n < 2 keep their row with NULL
  // (nothing to collide), the C18 zero-token convention.
  //
  // Scale (100 TB): one (doc, token) shuffle with map-side partials +
  // a doc-keyed rollup, then a doc_id equi-join back to the id list —
  // the C16 shape; no window, no global sort (oracle orders only for
  // presentation).
  val diversity = QueryDef.oracled(
    "text_diversity",
    """WITH tok AS (SELECT doc_id,
      |              unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      |            FROM documents),
      |c AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
      |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
      |             CAST(sum(c * (c - 1)) AS BIGINT) AS coll
      |      FROM c GROUP BY 1)
      |SELECT d.doc_id, coalesce(a.n, 0) AS n_tokens,
      |  coalesce(a.coll, 0) AS n_collisions,
      |  CASE WHEN coalesce(a.n, 0) >= 2 THEN
      |    1.0 - CAST(a.coll AS DOUBLE)
      |          / (CAST(a.n AS DOUBLE) * CAST(a.n - 1 AS DOUBLE))
      |  END AS diversity
      |FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    val a = Tables.documents(s, d)
      .select(col("doc_id"), explode(F.tokenize_words(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), sum(col("c") * (col("c") - 1)).as("coll"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(a, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).as("n_tokens"),
        coalesce(col("coll"), lit(0L)).as("n_collisions"),
        when(coalesce(col("n"), lit(0L)) >= 2,
          lit(1.0) - col("coll").cast("double")
            / (col("n").cast("double") * (col("n") - 1).cast("double")))
          .as("diversity"))
      .orderBy(col("doc_id"))
  }

  // --- C27: corpus snapshot delta (round 10) -------------------------------
  // The incremental-crawl CDC primitive: which documents were added,
  // removed, or changed between two corpus snapshots — the table an
  // incremental training-data refresh consumes instead of reprocessing
  // the crawl. The corpus has one snapshot, so v2 is FABRICATED
  // deterministically inside both engines (the C23/F-family pattern):
  // doc_id ≡ 3 (mod 17) dropped, ≡ 5 revised (suffix), ≡ 7 spawns an
  // addendum doc at doc_id + 10⁷. Comparison is by content hash; only
  // non-identical rows ship.
  //
  // Scale (100 TB): hashes reduce each side to (doc_id, 16 bytes)
  // map-side BEFORE the one doc_id-keyed FULL OUTER join — the join
  // ships digests, never text; under the A1 bucketing dial both
  // snapshot scans co-locate and the Exchange disappears. Output ∝
  // churn, not corpus.
  val delta = QueryDef.oracled(
    "corpus_delta",
    """WITH v2 AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 17 = 5
      |              THEN text || ' [rev2]' ELSE text END AS text
      |  FROM documents WHERE doc_id % 17 <> 3
      |  UNION ALL
      |  SELECT doc_id + 10000000,
      |         'v2 addendum for ' || CAST(doc_id AS VARCHAR)
      |  FROM documents WHERE doc_id % 17 = 7),
      |a AS (SELECT doc_id, md5(text) AS old_md5 FROM documents),
      |b AS (SELECT doc_id, md5(text) AS new_md5 FROM v2),
      |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, old_md5, new_md5
      |      FROM a FULL JOIN b ON a.doc_id = b.doc_id)
      |SELECT doc_id,
      |  CASE WHEN old_md5 IS NULL THEN 'added'
      |       WHEN new_md5 IS NULL THEN 'removed'
      |       ELSE 'changed' END AS status, old_md5, new_md5
      |FROM j WHERE old_md5 IS DISTINCT FROM new_md5
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val v2 = docs.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 17 === 5, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("text"))
      .unionAll(docs.filter(col("doc_id") % 17 === 7)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(lit("v2 addendum for "), col("doc_id").cast("string"))
            .as("text")))
    val a = docs.select(col("doc_id"), md5(col("text")).as("old_md5"))
    val b = v2.select(col("doc_id"), md5(col("text")).as("new_md5"))
    a.join(b, Seq("doc_id"), "full_outer")
      .filter(!(col("old_md5") <=> col("new_md5")))
      .select(col("doc_id"),
        when(col("old_md5").isNull, "added")
          .when(col("new_md5").isNull, "removed")
          .otherwise("changed").as("status"),
        col("old_md5"), col("new_md5"))
      .orderBy(col("doc_id"))
  }

  // --- C28: winnowing fingerprints (round 10) -------------------------------
  // The MOSS algorithm (Schleimer, Wilkerson & Aiken, SIGMOD 2003) —
  // the guarantee-carrying middle ground of the dedup shelf: D10's
  // fixed grid misses matches straddling grid lines; winnowing selects
  // the RIGHTMOST-MINIMUM hash of every w consecutive char-k-gram
  // hashes, guaranteeing any shared substring of length ≥ k+w−1
  // yields a shared fingerprint, at expected density 2/(w+1).
  //
  // Hashes are the engine's rolling *31 fingerprint compared UNSIGNED
  // (DECIMAL(38,0) here ≡ HUGEINT in the oracle — same total order),
  // so the selected set is bit-identical cross-engine. The
  // rightmost-min rule is evaluated as a bounded ±(w−1) lag/lead
  // predicate — a position p wins window [j, j+w−1] iff all its left
  // neighbors in the window are ≥ and all right neighbors are > — so
  // selection is ONE window pass (no per-window fan-out), and invalid
  // window starts collapse to FALSE under three-valued logic before
  // any NULL neighbor can leak through.
  //
  // Scale (100 TB): position explode is map-side (bounded by doc
  // length); the lag/lead window partitions by HIGH-cardinality
  // doc_id (sliver partitions, B10's argument) and the per-doc digest
  // aggregate reuses the same clustering — one exchange total, plus
  // the doc-id join back for zero-fingerprint rows.
  private val WinK = 8 // gram length (chars)
  private val WinW = 4 // window size (grams)
  /** OR-of-ANDs rightmost-min predicate over ±(w−1) neighbors —
    * rendered once for each engine from the same loop so the two
    * cannot drift. `a` = offset of p from the window start.
    */
  private def winnowSelSql: String =
    (0 until WinW).map { a =>
      val valid = s"p - $a >= 1 AND p - $a + ${WinW - 1} <= np"
      val left = (1 to a).map(i => s"l$i >= h")
      val right = (1 to WinW - 1 - a).map(i => s"r$i > h")
      (Seq(valid) ++ left ++ right).mkString("(", " AND ", ")")
    }.mkString(" OR ")
  /** The normalized (doc_id, nt, np) frame C28 and D17 both start
    * from — the Scala twin of winnowCtes' `dn`.
    */
  private[graft] def winnowDn(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        trim(regexp_replace(lower(col("text")), "[ \\t\\n\\f\\r]+", " "))
          .as("nt"))
      .select(col("doc_id"), col("nt"),
        (length(col("nt")) - (WinK - 1)).cast("long").as("np"))

  /** Selected winnowing fingerprints (doc_id, p, h) of a normalized
    * (doc_id, nt, np) frame — the kernel seam the guarantee spec
    * drives with planted docs.
    */
  private[graft] def winnowSelected(dn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    dn.filter(col("np") >= 1)
      .select(col("doc_id"), col("np"),
        explode(expr("sequence(1L, np)")).as("p"), col("nt"))
      .select(col("doc_id"), col("np"), col("p"),
        graft.queries.Coordination.fpUnsigned(
          expr(s"substring(nt, CAST(p AS INT), $WinK)")).as("h"))
      .withColumn("l1", lag(col("h"), 1).over(win))
      .withColumn("l2", lag(col("h"), 2).over(win))
      .withColumn("l3", lag(col("h"), 3).over(win))
      .withColumn("r1", lead(col("h"), 1).over(win))
      .withColumn("r2", lead(col("h"), 2).over(win))
      .withColumn("r3", lead(col("h"), 3).over(win))
      .filter(expr(winnowSelSql))
      .select(col("doc_id"), col("p"), col("h"))
  }

  /** Staged selected-fingerprint frame (doc_id, p, h) — the heaviest
    * kernel in the text family (per-character position explode + a
    * ±3-neighbor window over the whole corpus), shared by C28
    * (text_winnowing) and D17 (dedup_winnow_pairs). One persisted copy
    * per (session, dir), like `text.dbh`: at warehouse scale this is a
    * staging table written once per corpus snapshot, and every
    * consumer reads the ~2/(w+1)-sized selected set instead of
    * re-running the per-char scan. The frame leaves the window
    * clustered by doc_id, so per-doc consumers (C28's digest, D17's
    * set aggregate) add no exchange.
    */
  private[graft] def winnowSel(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s, s"text.winnowsel:$d") {
      // ingest-spread before the per-char explode: the kernel cost is
      // proportional to corpus BYTES, so it must inherit full executor
      // width rather than the parquet file count
      winnowSelected(Tables.spread(winnowDn(s, d), s, "doc_id"))
    }

  /** The winnowing CTE chain up to the selected-fingerprint set —
    * spliced by BOTH the C28 and D17 oracles so the replays cannot
    * drift from each other.
    */
  private[graft] def winnowCtes: String =
    s"""d AS (SELECT doc_id,
      |    trim(regexp_replace(lower(text), '[ \\t\\n\\f\\r]+', ' ', 'g')) AS nt
      |  FROM documents),
      |dn AS (SELECT doc_id, nt, length(nt) - ${WinK - 1} AS np FROM d),
      |g AS (SELECT doc_id, np, CAST(u.p AS BIGINT) AS p,
      |    list_reduce(list_prepend(CAST(0 AS HUGEINT),
      |      list_transform(regexp_extract_all(substr(nt, CAST(u.p AS INTEGER), $WinK), '[\\s\\S]'),
      |        c -> CAST(ord(c) AS HUGEINT))),
      |      (a, c) -> (a*31 + c) % CAST('18446744073709551616' AS HUGEINT)) AS h
      |  FROM dn, unnest(range(1, CAST(np AS BIGINT) + 1)) AS u(p)),
      |w AS (SELECT doc_id, np, p, h,
      |    lag(h, 1) OVER win AS l1, lag(h, 2) OVER win AS l2,
      |    lag(h, 3) OVER win AS l3,
      |    lead(h, 1) OVER win AS r1, lead(h, 2) OVER win AS r2,
      |    lead(h, 3) OVER win AS r3
      |  FROM g WINDOW win AS (PARTITION BY doc_id ORDER BY p)),
      |sel AS (SELECT doc_id, p, h FROM w WHERE $winnowSelSql)""".stripMargin

  val winnowing = QueryDef.oracled(
    "text_winnowing",
    s"""WITH $winnowCtes,
      |a AS (SELECT doc_id, count(*) AS n_fps,
      |    md5(string_agg(CAST(p AS VARCHAR) || ':' || CAST(h AS VARCHAR),
      |                   ',' ORDER BY p)) AS fp_digest
      |  FROM sel GROUP BY 1)
      |SELECT dn.doc_id, greatest(dn.np, 0) AS n_grams,
      |  coalesce(a.n_fps, 0) AS n_fps, a.fp_digest
      |FROM dn LEFT JOIN a USING (doc_id)
      |ORDER BY dn.doc_id""".stripMargin) { (s, d) =>
    val dn = winnowDn(s, d)
    val agg = winnowSel(s, d).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fps"),
        md5(concat_ws(",",
          expr("transform(array_sort(collect_list(struct(p, h)))," +
            " x -> concat(CAST(x.p AS STRING), ':', CAST(x.h AS STRING)))")))
          .as("fp_digest"))
    dn.select(col("doc_id"), greatest(col("np"), lit(0L)).as("n_grams"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_fps"), lit(0L)).as("n_fps"), col("fp_digest"))
      .orderBy(col("doc_id"))
  }

  // --- C29: BPE merge learning (round 11) -----------------------------------
  // Tokenizer INDUCTION, the step every LLM data pipeline runs before
  // token counting means anything: learn the first k byte-pair-encoding
  // merges (Sennrich et al. 2016) from the corpus. Classic two-level
  // shape: the corpus is touched ONCE to build the word-frequency
  // table (one map-side-combinable shuffle — words repeat massively,
  // so partial aggregation collapses the stream); the k merge
  // iterations then run entirely on that vocab staging table —
  // B44/pagerank's aggregate-then-iterate, with localCheckpoint
  // lineage cuts per sweep. Per iteration: adjacent-pair counts
  // weighted by word frequency (sliding window over the symbol
  // sequence), argmax via TakeOrdered top-1 (cnt DESC, pair ASC
  // tie-break — NO global sort), then the merge applied map-only
  // through a broadcast 1-row cross join.
  //
  // Merge semantics, pinned cross-engine: the winning pair (a, b) is
  // merged by TWO passes of plain left-to-right non-overlapping
  // string replace of " a b " with " ab " over the space-delimited
  // symbol string. One pass misses occurrences that share their
  // leading space with a just-consumed match (" a b a b " → the
  // second pair survives); those misses are provably isolated, so the
  // second pass catches every remaining adjacency. For odd runs of a
  // SAME-symbol pair ≥ 5 the grouping can differ from the canonical
  // leftmost-greedy fold ("aaaaaaa" → aa·a·aa·aa vs greedy
  // aa·aa·aa·a — same merged-token multiset, different positions);
  // both engines execute the identical double-replace, so the
  // operator is deterministic and oracled — the deviation is
  // documented, not hidden.
  private val BpeSteps = 8
  /** The learning-chain CTEs (v0 → t1/v1 → … → t_k/v_k) shared by the
    * C29 and C30 oracles — terminal CTEs are t$i (winning pair per
    * step) and v$BpeSteps (fully merged vocab).
    */
  private def bpeCtes: String = {
    val head =
      """toks AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |  FROM documents),
        |v0 AS (SELECT array_to_string(regexp_extract_all(tok, '.'), ' ') AS w,
        |              count(*) AS freq
        |       FROM toks GROUP BY 1)""".stripMargin
    val iters = (1 to BpeSteps).map { i =>
      s"""p$i AS (SELECT l[j] AS a, l[j + 1] AS b,
        |          CAST(sum(freq) AS BIGINT) AS cnt
        |        FROM (SELECT string_split(w, ' ') AS l, freq FROM v${i - 1}) t,
        |             unnest(range(1, len(l))) u(j)
        |        GROUP BY 1, 2),
        |-- sentinel when NO pair exists (degenerate corpus): an empty
        |-- t$i would annihilate v$i through the CROSS JOIN. The ('','')
        |-- sentinel rides the SAME scan (cnt = -1 loses every ordering
        |-- against real counts >= 1, survives only when p$i is empty —
        |-- one reference to p$i, so inlined-CTE cost stays linear); its
        |-- replace pattern ('   ') never matches a single-space symbol
        |-- string, so the vocab passes unchanged, and the merge-table
        |-- SELECT filters it out, matching the Spark loop which simply
        |-- emits no row for a pairless step
        |t$i AS (SELECT a, b, cnt FROM (
        |          SELECT a, b, cnt FROM p$i
        |          UNION ALL SELECT '', '', CAST(-1 AS BIGINT))
        |        ORDER BY cnt DESC, a, b LIMIT 1),
        |v$i AS (SELECT trim(replace(replace(' ' || w || ' ',
        |                 ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
        |                 ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '))
        |               AS w, freq
        |        FROM v${i - 1} CROSS JOIN t$i)""".stripMargin
    }.mkString(",\n", ",\n", "")
    head + iters
  }

  /** The staged merge table (step, sym_a, sym_b, merged, pair_count) —
    * the learning loop runs ONCE per (session, dir) and both C29 (the
    * table itself) and C30 (the tokenizer that applies it) read the
    * 8-row persisted copy. At warehouse scale the learned merges are a
    * published artifact, not something recomputed per consumer.
    */
  private[graft] def bpeMergesFrame(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s, s"text.bpemerges:$d") {
      var v = Tables.spread(Tables.documents(s, d), s, "doc_id")
        .select(explode(words(col("text"))).as("tok"))
        .groupBy(concat_ws(" ",
          regexp_extract_all(col("tok"), lit("."), lit(0))).as("w"))
        .agg(count(lit(1)).as("freq"))
        .localCheckpoint() // vocab staging table; iterations never re-scan docs
      val steps = (1 to BpeSteps).map { i =>
        val pairs = v
          .select(col("freq"), split(col("w"), " ").as("l"))
          .filter(size(col("l")) >= 2)
          .select(col("freq"), explode(expr(
            "transform(sequence(0, size(l) - 2), j -> struct(l[j] AS a, l[j + 1] AS b))"))
            .as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("cnt"))
        // top-1 with the deterministic tie-break — TakeOrderedAndProject,
        // not a global sort; localCheckpoint so the 1-row frame is
        // materialized once for both the output and the merge join
        val top = pairs.orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(1).localCheckpoint()
        // pairless step (degenerate corpus: every word fully merged or
        // single-symbol): an empty `top` would annihilate v through the
        // cross join — leave the vocab unchanged instead, matching the
        // oracle's sentinel semantics ("the vocab passes unchanged");
        // isEmpty on the checkpointed 0/1-row frame is a bounded read
        if (!top.isEmpty) {
          v = v.crossJoin(broadcast(top))
            .select(trim(expr(
              "replace(replace(concat(' ', w, ' '), concat(' ', a, ' ', b, ' '), " +
                "concat(' ', a, b, ' ')), concat(' ', a, ' ', b, ' '), " +
                "concat(' ', a, b, ' '))")).as("w"), col("freq"))
            .localCheckpoint() // cut the per-iteration plan growth (B44's idiom)
        }
        top.select(lit(i).as("step"), col("a").as("sym_a"), col("b").as("sym_b"),
          concat(col("a"), col("b")).as("merged"), col("cnt").as("pair_count"))
      }
      steps.reduce(_ unionByName _)
    }

  /** The learned merges (sym_a, sym_b) in step order, read to the driver
    * by C30/C31 to build their literal replace cascades: one row per
    * step, so at most `BpeSteps` rows, and a learner that produced more
    * fails loudly instead of growing the cascade.
    */
  private def learnedMerges(s: SparkSession, d: String): Array[Row] =
    Analytics.boundedDriverCollect(bpeMergesFrame(s, d).orderBy(col("step"))
      .select(col("sym_a"), col("sym_b")), BpeSteps, "BPE merge table (one row per step)")

  val bpeMerges = QueryDef.oracled(
    "text_bpe_merges", {
      val union = (1 to BpeSteps).map { i =>
        s"SELECT CAST($i AS INTEGER) AS step, a AS sym_a, b AS sym_b, " +
          s"a || b AS merged, cnt AS pair_count FROM t$i WHERE a <> ''"
      }.mkString("\nUNION ALL ")
      s"WITH $bpeCtes\n$union\nORDER BY step"
    }) { (s, d) =>
    bpeMergesFrame(s, d).orderBy(col("step"))
  }

  // --- C30: BPE tokenization under the learned merges (round 11) ------------
  // C29's consumer — the tokenizer itself: every corpus word encoded by
  // applying the 8 learned merges in order (each the same two-pass
  // replace the learner used, so training and inference tokenize
  // identically), rolled up per document: word count, character mass,
  // BPE token count, and chars-per-token compression — the metric that
  // tells you whether the induced vocab actually compresses the corpus
  // (and the per-doc token budget C10's whitespace proxy approximates).
  //
  // Scale (100 TB): the merges are a STAGED 8-row artifact; collecting
  // them to the driver is a bounded read (8 rows — the codebook-collect
  // class, documented), which lets the whole merge cascade compile into
  // ONE codegen'd expression chain over the DISTINCT token dictionary —
  // encode once per distinct word, not per occurrence — then a hash
  // join back to the per-doc word stream and a map-side-combinable
  // per-doc rollup. Corpus touched once; no iteration at inference.
  val bpeTokens = QueryDef.oracled(
    "text_bpe_tokens", {
      val aliased = (1 to BpeSteps).map(i =>
        s"(SELECT a AS a$i, b AS b$i FROM t$i) x$i").mkString(", ")
      val enc = (1 to BpeSteps).foldLeft(
        "' ' || array_to_string(regexp_extract_all(tok, '.'), ' ') || ' '") {
        (e, i) =>
          s"""replace(replace($e,
            | ' ' || a$i || ' ' || b$i || ' ', ' ' || a$i || b$i || ' '),
            | ' ' || a$i || ' ' || b$i || ' ', ' ' || a$i || b$i || ' ')""".stripMargin
      }
      s"""WITH $bpeCtes,
        |dw AS (SELECT doc_id,
        |         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |       FROM documents),
        |dict AS (SELECT DISTINCT tok FROM dw),
        |enc AS (SELECT tok,
        |          CAST(len(string_split(trim($enc), ' ')) AS BIGINT) AS n_syms,
        |          CAST(length(tok) AS BIGINT) AS n_chars_tok
        |        FROM dict, $aliased),
        |agg AS (SELECT dw.doc_id, count(*) AS n_words,
        |          CAST(sum(n_chars_tok) AS BIGINT) AS n_chars,
        |          CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens
        |        FROM dw JOIN enc USING (tok) GROUP BY 1)
        |SELECT d.doc_id, coalesce(agg.n_words, 0) AS n_words,
        |  coalesce(agg.n_chars, 0) AS n_chars,
        |  coalesce(agg.n_bpe_tokens, 0) AS n_bpe_tokens,
        |  CASE WHEN agg.n_bpe_tokens > 0
        |       THEN CAST(agg.n_chars AS DOUBLE) / agg.n_bpe_tokens
        |  END AS compression
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin
    }) { (s, d) =>
    // bounded driver read of the staged 8-row merge table (the
    // Similarity codebook-collect class) — compiles the cascade into
    // one literal expression chain, no per-row join against the merges
    val merges = learnedMerges(s, d)
    val enc = merges.foldLeft(
      "concat(' ', concat_ws(' ', regexp_extract_all(tok, '.', 0)), ' ')") {
      (e, r) =>
        val (a, b) = (r.getString(0), r.getString(1)) // [a-z0-9]+ only — safe literals
        s"replace(replace($e, ' $a $b ', ' $a$b '), ' $a $b ', ' $a$b ')"
    }
    val dw = Tables.spread(Tables.documents(s, d), s, "doc_id")
      .select(col("doc_id"), explode(words(col("text"))).as("tok"))
    val dict = dw.select(col("tok")).distinct()
      .select(col("tok"),
        size(split(trim(expr(enc)), " ")).cast("long").as("n_syms"),
        length(col("tok")).cast("long").as("n_chars_tok"))
    val agg = dw.join(dict, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_chars_tok")).as("n_chars"),
        sum(col("n_syms")).as("n_bpe_tokens"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
        when(col("n_bpe_tokens") > 0,
          col("n_chars").cast("double") / col("n_bpe_tokens"))
          .as("compression"))
      .orderBy(col("doc_id"))
  }

  // --- C31: the induced BPE vocabulary (round 11) ----------------------------
  // The third leg of the BPE triple (C29 learn → C31 vocab → C30
  // encode): the token inventory the learned merges induce over the
  // corpus, with its mass — per BPE token, how many distinct word
  // positions it fills (n_positions, unweighted) and how many corpus
  // occurrences it covers (n_occurrences, frequency-weighted). This is
  // the table a tokenizer release ships, and the coverage input C18
  // approximates with a fixed vocab.
  //
  // Scale: same shape as C30 — the staged 8-row merge artifact compiles
  // into one literal replace cascade over the WORD-frequency table
  // (vocab-sized, not corpus-sized: the one corpus scan is the v0
  // word count), then a symbol explode + map-side-combinable rollup.
  val bpeVocab = QueryDef.oracled(
    "text_bpe_vocab",
    s"""WITH $bpeCtes,
      |u AS (SELECT t.t AS token, freq
      |      FROM (SELECT string_split(w, ' ') AS l, freq FROM v$BpeSteps) v,
      |           unnest(v.l) t(t))
      |SELECT token, count(*) AS n_positions,
      |  CAST(sum(freq) AS BIGINT) AS n_occurrences
      |FROM u GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val merges = learnedMerges(s, d)
    val enc = merges.foldLeft("concat(' ', w, ' ')") { (e, r) =>
      val (a, b) = (r.getString(0), r.getString(1))
      s"replace(replace($e, ' $a $b ', ' $a$b '), ' $a $b ', ' $a$b ')"
    }
    Tables.spread(Tables.documents(s, d), s, "doc_id")
      .select(explode(words(col("text"))).as("tok"))
      .groupBy(concat_ws(" ",
        regexp_extract_all(col("tok"), lit("."), lit(0))).as("w"))
      .agg(count(lit(1)).as("freq"))
      .select(explode(split(trim(expr(enc)), " ")).as("token"), col("freq"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_positions"), sum(col("freq")).as("n_occurrences"))
      .orderBy(col("token"))
  }

  // --- C32: sentence-level profile (round 12) --------------------------------
  // The readability axis C1 (tokens) and C2 (word-quality ratios)
  // don't cover: per document, sentence count, the longest sentence,
  // and mean words per sentence — the wall-of-text / run-on signal a
  // quality filter thresholds alongside C2's composite (a doc with
  // 2000 words and 3 sentence marks is OCR junk or a table dump, not
  // prose). Sentences = maximal [.!?]-free segments containing at
  // least one word; the per-segment word counts run INSIDE a
  // codegen'd transform lambda, so the whole profile is one map-only
  // projection over the corpus scan — no shuffle, no explode (the
  // segment array never leaves its row).
  //
  // Exactness: all counts integers from the same regex in both
  // engines; words_per_sentence is ONE double divide.
  val sentenceStats = QueryDef.oracled(
    "text_sentence_stats",
    """WITH t AS (SELECT doc_id,
      |    list_transform(regexp_extract_all(text, '[^.!?]+'),
      |                   s -> len(regexp_extract_all(lower(s), '[a-z0-9]+'))) AS wc,
      |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_words
      |  FROM documents),
      |f AS (SELECT doc_id, n_words, list_filter(wc, x -> x > 0) AS swc FROM t)
      |SELECT doc_id, CAST(len(swc) AS BIGINT) AS n_sentences,
      |  CAST(n_words AS BIGINT) AS n_words,
      |  CAST(coalesce(list_aggregate(swc, 'max'), 0) AS BIGINT)
      |    AS max_sentence_words,
      |  CAST(n_words AS DOUBLE) / greatest(len(swc), 1) AS words_per_sentence
      |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr("""filter(transform(regexp_extract_all(text, '[^.!?]+', 0),
          | s -> size(regexp_extract_all(lower(s), '[a-z0-9]+', 0))),
          | x -> x > 0)""".stripMargin).as("swc"),
        size(words(col("text"))).cast("long").as("n_words"))
      .select(col("doc_id"),
        size(col("swc")).cast("long").as("n_sentences"),
        col("n_words"),
        coalesce(array_max(col("swc")), lit(0)).cast("long")
          .as("max_sentence_words"),
        (col("n_words").cast("double")
          / greatest(size(col("swc")), lit(1))).as("words_per_sentence"))
      .orderBy(col("doc_id"))
  }

  // --- C33: vocabulary coverage curve ---------------------------------------
  // The vocab-SIZING input C18's fixed top-1000 presupposes: what share
  // of corpus token occurrences does a top-N vocabulary cover, swept
  // over a size grid — the Zipf curve a tokenizer team reads before
  // fixing |V| (and the exact-coverage counterpart of C18's OOV rate,
  // which evaluates ONE point of this curve per doc). Ranking ties
  // break by token asc — a deterministic cutoff in both engines.
  //
  // Scale (100 TB): rides the STAGED unigram count table; the top-4096
  // head comes from TakeOrderedAndProject (partial top-k, no global
  // sort — the C18 vocab idiom), totals are one aggregate over the
  // vocabulary-sized table, and the grid join + cumulative sums run on
  // ≤ 4096 rows (the single-partition rank window is over that head
  // only). The corpus itself is touched zero extra times.
  private val CoverageGrid = Seq(16, 64, 256, 1024, 4096)

  val coverageCurve = QueryDef.oracled(
    "text_coverage_curve",
    s"""WITH u AS (SELECT t AS tok, count(*) AS n
      |           FROM (SELECT unnest(regexp_extract_all(lower(text),
      |                               '[a-z0-9]+')) AS t
      |                 FROM documents) GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_tokens,
      |               count(*) AS n_distinct FROM u),
      |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rk
      |      FROM u),
      |g AS (SELECT unnest([${CoverageGrid.mkString(", ")}]) AS vocab_size)
      |SELECT g.vocab_size,
      |  CAST(coalesce(sum(r.n), 0) AS BIGINT) AS covered_tokens,
      |  tot.total_tokens, tot.n_distinct,
      |  CAST(coalesce(sum(r.n), 0) AS DOUBLE)
      |    / CAST(tot.total_tokens AS DOUBLE) AS coverage
      |FROM g CROSS JOIN tot LEFT JOIN r ON r.rk <= g.vocab_size
      |GROUP BY g.vocab_size, tot.total_tokens, tot.n_distinct
      |ORDER BY g.vocab_size""".stripMargin) { (s, d) =>
    val ucnt = unigramCounts(s, d)
    val tot = ucnt.agg(sum(col("n")).cast("long").as("total_tokens"),
      count(lit(1)).as("n_distinct"))
    // The ≤ 4096-row head as ONE sorted array (r19): the old rank
    // window over the TakeOrdered head was the single-partition
    // WindowExec the B32 family exists to avoid (harmless at 4096
    // rows, but an exchange + sort + join + re-aggregate of pure fixed
    // cost). Each grid point's covered mass is now a prefix sum over
    // the array — same longs, order-independent addition, no window,
    // no join, no second aggregate.
    val head = ucnt.orderBy(col("n").desc, col("tok"))
      .limit(CoverageGrid.max)
      .agg(collect_list(struct(col("n"), col("tok"))).as("bs"))
      .select(expr(
        """array_sort(bs, (a, b) -> CASE
          |  WHEN a.n > b.n THEN -1 WHEN a.n < b.n THEN 1
          |  WHEN a.tok < b.tok THEN -1 WHEN a.tok > b.tok THEN 1
          |  ELSE 0 END)""".stripMargin).as("bs"))
    head.crossJoin(broadcast(tot))
      .select(explode(array(CoverageGrid.map { g =>
        struct(lit(g).as("vocab_size"),
          expr(s"aggregate(slice(bs, 1, $g), CAST(0 AS BIGINT), " +
            "(acc, x) -> acc + x.n)").as("covered_tokens"))
      }: _*)).as("t"), col("total_tokens"), col("n_distinct"))
      .select(col("t.vocab_size").as("vocab_size"),
        col("t.covered_tokens").as("covered_tokens"),
        col("total_tokens"), col("n_distinct"),
        (col("t.covered_tokens").cast("double")
          / col("total_tokens").cast("double")).as("coverage"))
      .orderBy(col("vocab_size"))
  }

  // --- C34: syllable / word-complexity profile ------------------------------
  // The readability INPUTS next to C32's sentence axis: per doc, word
  // count, syllable mass (vowel-group heuristic — [aeiouy]+ runs per
  // word, floored at 1 so vowelless tokens count one), monosyllabic
  // and complex (≥ 3 syllables, the Gunning-fog class) word counts,
  // syllables-per-word and complex-word share. A quality filter
  // thresholds complex_share / syllables_per_word beside C2's
  // composite: generated word-salad skews polysyllabic, OCR junk
  // monosyllabic.
  //
  // Exactness: every count is an integer from the same regexes in both
  // engines; the two rates are single double divides. Scale: map-only
  // projection over the corpus scan — the per-word syllable counts run
  // inside a codegen'd transform lambda (the C32 shape), no shuffle,
  // no explode; the syl array never leaves its row.
  val syllableProfile = QueryDef.oracled(
    "text_syllable_profile",
    """WITH w AS (SELECT doc_id,
      |    list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
      |      x -> greatest(1, len(regexp_extract_all(x, '[aeiouy]+')))) AS syl
      |  FROM documents)
      |SELECT doc_id, CAST(len(syl) AS BIGINT) AS n_words,
      |  CAST(coalesce(list_aggregate(syl, 'sum'), 0) AS BIGINT)
      |    AS n_syllables,
      |  CAST(len(list_filter(syl, x -> x = 1)) AS BIGINT) AS n_mono,
      |  CAST(len(list_filter(syl, x -> x >= 3)) AS BIGINT) AS n_complex,
      |  CAST(coalesce(list_aggregate(syl, 'sum'), 0) AS DOUBLE)
      |    / greatest(len(syl), 1) AS syllables_per_word,
      |  CAST(len(list_filter(syl, x -> x >= 3)) AS DOUBLE)
      |    / greatest(len(syl), 1) AS complex_share
      |FROM w ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr("""transform(regexp_extract_all(lower(text), '[a-z0-9]+', 0),
          | x -> greatest(1, size(regexp_extract_all(x, '[aeiouy]+', 0))))"""
          .stripMargin).as("syl"))
      .select(col("doc_id"),
        size(col("syl")).cast("long").as("n_words"),
        aggregate(col("syl"), lit(0L), (a, x) => a + x).as("n_syllables"),
        size(filter(col("syl"), _ === 1)).cast("long").as("n_mono"),
        size(filter(col("syl"), _ >= 3)).cast("long").as("n_complex"))
      .select(col("doc_id"), col("n_words"), col("n_syllables"),
        col("n_mono"), col("n_complex"),
        (col("n_syllables").cast("double")
          / greatest(col("n_words"), lit(1))).as("syllables_per_word"),
        (col("n_complex").cast("double")
          / greatest(col("n_words"), lit(1))).as("complex_share"))
      .orderBy(col("doc_id"))
  }

  // --- C36: cross-document boilerplate n-grams (round 12) --------------------
  // The REMOVAL-side dual of C16's per-doc novelty score: WHICH 5-gram
  // phrases are template chrome — word 5-grams present in ≥ 3 distinct
  // documents, ranked by document frequency (the candidate list a
  // boilerplate-stripping pass, or a RefinedWeb-style line-dedup rule,
  // is seeded from; 5 words ≈ a clause, long enough that legitimate
  // prose rarely collides). Each gram carries its df and the earliest
  // doc exhibiting it.
  //
  // Scale (100 TB): the k-gram kernel emits per-doc DISTINCT grams
  // (LinkedHashSet inside the codegen'd NgramsDistinct expression), so
  // document frequency is ONE map-side-combinable groupBy — no
  // (doc, gram) distinct shuffle ever materializes the corpus-scale
  // presence frame; top-50 via TakeOrderedAndProject (partial top-k,
  // no global sort). The df ≥ 3 filter drops the heavy unique-gram
  // tail before the limit.
  val boilerplateNgrams = QueryDef.oracled(
    "text_boilerplate_ngrams",
    """WITH toks AS (SELECT doc_id,
      |          regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |        FROM documents),
      |dg AS (SELECT doc_id,
      |         unnest(list_distinct([array_to_string(t[i:i+4], ' ')
      |                               FOR i IN range(1, len(t) - 3)])) AS gram
      |       FROM toks),
      |df AS (SELECT gram, count(*) AS df, min(doc_id) AS example_doc
      |       FROM dg GROUP BY 1)
      |SELECT gram, df, example_doc FROM df WHERE df >= 3
      |ORDER BY df DESC, gram LIMIT 50""".stripMargin) { (s, d) =>
    Tables.spread(Tables.documents(s, d)
        .select(col("doc_id"), col("text")), s, "doc_id")
      .select(col("doc_id"),
        explode(F.ngrams_distinct(F.tokenize_words(col("text")), 5))
          .as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("example_doc"))
      .filter(col("df") >= 3)
      .orderBy(col("df").desc, col("gram")).limit(50)
  }

  // --- C38: boilerplate stripping (round 13) ---------------------------------
  // C36's CONSUMER — the curation action its candidate list exists
  // for: rewrite each document's canonical token stream with every
  // position covered by a cross-document boilerplate 5-gram (word
  // 5-grams present in ≥ 3 distinct docs — C36's df contract, here
  // UNCAPPED rather than top-50: stripping wants the whole chrome set)
  // removed, and emit per-doc reduction stats + the md5 of the cleaned
  // stream. The RefinedWeb-style template-chrome pass: navigation
  // bars, footers, cookie banners shared across a crawl disappear;
  // unique prose (grams with df < 3) is untouched. The output is the
  // TOKEN stream, not the raw text — stripping is defined on the
  // tokenizer's canonical form, so both engines rewrite the identical
  // sequence (and downstream token-budget ops consume exactly this
  // form anyway).
  //
  // Scale (100 TB): three corpus-scale passes, all shuffle-lean —
  // (1) the C36 df rollup (per-doc DISTINCT grams via the codegen'd
  // NgramsDistinct kernel → ONE map-side-combinable groupBy; df ≥ 3
  // keeps only the boilerplate head, a vocabulary-scale frame);
  // (2) positional grams equi-joined against that frame on the gram
  // key (the join output is HITS only — boilerplate occurrences, not
  // the corpus), aggregated to a per-doc covered-position set (bounded
  // by doc length); (3) one map-side rebuild of each doc from its own
  // token array + covered set (array ops inside codegen, no UDF). Hot
  // boilerplate grams skew the hit join's gram key — same AQE skew
  // story as D2b's capped index; the per-doc agg re-keys to doc_id.
  private val StripDf = 3 // a gram in >= 3 distinct docs is chrome (C36)

  /** The chrome-gram dictionary (df ≥ 3 word 5-grams), STAGED: built
    * once per corpus (FrameCache; parquet artifact under
    * `graft.index.dir`) and shared by batch C38 and the streaming A54
    * twin — the v1-dictionary model A32's vocab uses: the stripping
    * rule a live ingest applies is frozen from the last corpus build.
    */
  private[graft] def chromeGrams(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s, s"text.chrome:$d:$StripDf") {
      Tables.spread(Tables.documents(s, d)
          .select(col("doc_id"), col("text")), s, "doc_id")
        .select(explode(
          F.ngrams_distinct(F.tokenize_words(col("text")), 5)).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= StripDf)
        .select(col("gram"))
    }

  /** C38's oracle — shared verbatim by the A54 streaming twin. */
  private[graft] val stripOracle: String =
    s"""WITH toks AS (SELECT doc_id,
      |          regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |        FROM documents),
      |dg AS (SELECT doc_id,
      |         unnest(list_distinct([array_to_string(t[i:i+4], ' ')
      |                               FOR i IN range(1, len(t) - 3)])) AS gram
      |       FROM toks),
      |df AS (SELECT gram FROM dg GROUP BY gram HAVING count(*) >= $StripDf),
      |pos AS (SELECT doc_id,
      |          unnest([{'i': i, 'g': array_to_string(t[i:i+4], ' ')}
      |                  FOR i IN range(1, len(t) - 3)]) AS p
      |        FROM toks),
      |cp AS (SELECT doc_id, unnest([(p).i, (p).i+1, (p).i+2, (p).i+3,
      |                              (p).i+4]) AS j
      |       FROM pos JOIN df ON (p).g = df.gram),
      |cov AS (SELECT doc_id, list(DISTINCT j) AS covered
      |        FROM cp GROUP BY doc_id),
      |cl AS (SELECT t.doc_id, len(t.t) AS n_tokens,
      |         coalesce(len(c.covered), 0) AS n_removed,
      |         coalesce(array_to_string(
      |           [t.t[j] FOR j IN range(1, len(t.t) + 1)
      |            IF NOT coalesce(list_contains(c.covered, j), FALSE)],
      |           ' '), '') AS cleaned
      |         -- DuckDB array_to_string([]) is NULL, Spark concat_ws
      |         -- of an empty array is '' — pin the fully-covered doc
      |         -- to the empty stream on both engines
      |       FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id)
      |SELECT doc_id, n_tokens, n_removed,
      |  CASE WHEN n_tokens = 0 THEN 1.0
      |       ELSE CAST(n_tokens - n_removed AS DOUBLE) / n_tokens END
      |    AS kept_ratio,
      |  md5(cleaned) AS cleaned_hash
      |FROM cl ORDER BY doc_id""".stripMargin

  /** C38's per-doc strip frame — (doc_id, n_tokens, n_removed,
    * cleaned) — shared with the C39 per-source rollup. STAGED (round
    * 14, the §7k debt): FrameCache + index-dir artifact, so a session
    * (or a later JVM, via the artifact store) running C38+C39
    * tokenizes and position-joins the corpus ONCE — previously each
    * consumer re-ran both corpus passes. At 100 TB the staged frame IS
    * the curation product: the cleaned token streams downstream
    * packing/training jobs consume, exactly what a pipeline would
    * materialize between the strip and pack stages.
    */
  private def stripStats(s: SparkSession, d: String): DataFrame =
    graft.FrameCache.getOrPersist(s, s"text.stripStats:$d:$StripDf") {
      stripStatsBuild(s, d)
    }

  private def stripStatsBuild(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.spread(Tables.documents(s, d)
        .select(col("doc_id"), col("text")), s, "doc_id")
      .select(col("doc_id"), F.tokenize_words(col("text")).as("t"))
      .localCheckpoint() // tokenize once; pos join + rebuild consumers
    // chrome set: C36's per-doc-distinct df rollup, df >= 3, UNCAPPED —
    // staged (shared with the A54 streaming twin)
    val chrome = chromeGrams(s, d)
    // positional grams (1-based start i; docs with < 5 tokens are
    // filtered before the explode — sequence(1, n-4) at n < 5 would
    // generate a DESCENDING range, not an empty one) -> hits i..i+4
    val cov = toks
      .filter(size(col("t")) >= 5)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(t) - 4),
          |  i -> struct(i AS i, concat_ws(' ', slice(t, i, 5)) AS g))"""
          .stripMargin)).as("p"))
      .select(col("doc_id"), col("p.i").as("i"), col("p.g").as("g"))
      .join(chrome, col("g") === col("gram"))
      .select(col("doc_id"), explode(expr("sequence(i, i + 4)")).as("j"))
      .groupBy(col("doc_id")).agg(collect_set(col("j")).as("covered"))
    toks.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
        coalesce(size(col("covered")), lit(0)).cast("long").as("n_removed"),
        when(col("covered").isNull, concat_ws(" ", col("t")))
          .otherwise(expr(
            """concat_ws(' ', transform(
              |  filter(transform(t, (x, i0) -> struct(x AS tok,
              |                                        i0 + 1 AS pos)),
              |         s -> NOT array_contains(covered, s.pos)),
              |  s -> s.tok))""".stripMargin)).as("cleaned"))
  }

  val stripBoilerplate = QueryDef.oracled(
    "text_strip_boilerplate", stripOracle) { (s, d) =>
    stripStats(s, d)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        when(col("n_tokens") === 0, lit(1.0))
          .otherwise((col("n_tokens") - col("n_removed")).cast("double")
            / col("n_tokens")).as("kept_ratio"),
        md5(col("cleaned").cast("binary")).as("cleaned_hash"))
      .orderBy(col("doc_id"))
  }

  // --- C39: corpus-level stripping effect (round 13) -------------------------
  // The report a curation run publishes after C38: per source, how
  // much of the token budget was template chrome — docs touched,
  // tokens removed, removed share, and the post-strip token budget
  // (the number C10's packing math consumes next). Closes the loop:
  // C36 mines the chrome, C38 strips it, C39 prices what stripping
  // bought per source.
  //
  // Scale (100 TB): the per-doc strip frame (C38's three shuffle-lean
  // passes) joined to the doc→source map (both doc-keyed — the join
  // reuses the doc_id clustering), then ONE map-side-combinable
  // per-source rollup. |sources| rows out.
  val stripEffect = QueryDef.oracled(
    "corpus_strip_effect",
    s"""WITH toks AS (SELECT doc_id, source,
      |          regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      |        FROM documents),
      |dg AS (SELECT doc_id,
      |         unnest(list_distinct([array_to_string(t[i:i+4], ' ')
      |                               FOR i IN range(1, len(t) - 3)])) AS gram
      |       FROM toks),
      |df AS (SELECT gram FROM dg GROUP BY gram HAVING count(*) >= $StripDf),
      |pos AS (SELECT doc_id,
      |          unnest([{'i': i, 'g': array_to_string(t[i:i+4], ' ')}
      |                  FOR i IN range(1, len(t) - 3)]) AS p
      |        FROM toks),
      |cp AS (SELECT doc_id, unnest([(p).i, (p).i+1, (p).i+2, (p).i+3,
      |                              (p).i+4]) AS j
      |       FROM pos JOIN df ON (p).g = df.gram),
      |cov AS (SELECT doc_id, count(DISTINCT j) AS n_removed
      |        FROM cp GROUP BY doc_id),
      |cl AS (SELECT t.doc_id, t.source, len(t.t) AS n_tokens,
      |         coalesce(c.n_removed, 0) AS n_removed
      |       FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id)
      |SELECT source, count(*) AS n_docs,
      |  count(*) FILTER (WHERE n_removed > 0) AS docs_touched,
      |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(sum(n_removed) AS BIGINT) AS tokens_removed,
      |  CAST(sum(n_tokens) - sum(n_removed) AS BIGINT) AS budget_after,
      |  CASE WHEN sum(n_tokens) = 0 THEN 0.0
      |       ELSE CAST(sum(n_removed) AS DOUBLE)
      |              / CAST(sum(n_tokens) AS BIGINT) END AS removed_share
      |FROM cl GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    stripStats(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("n_removed") > 0, lit(1))).as("docs_touched"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        sum(col("n_removed")).cast("long").as("tokens_removed"))
      .select(col("source"), col("n_docs"), col("docs_touched"),
        col("total_tokens"), col("tokens_removed"),
        (col("total_tokens") - col("tokens_removed")).as("budget_after"),
        when(col("total_tokens") === 0, lit(0.0))
          .otherwise(col("tokens_removed").cast("double")
            / col("total_tokens")).as("removed_share"))
      .orderBy(col("source"))
  }

  // --- C37: per-source vocabulary profile (round 12) -------------------------
  // Heaps-law / hapax diagnostics per source — the vocabulary-health
  // panel a corpus report shows next to C6's raw counts: total tokens,
  // distinct terms, hapax (tf = 1) and dis legomena (tf = 2) counts,
  // type-token ratio, hapax share. A natural-language source sits near
  // ~40–60% hapax share; far below says boilerplate/templated text,
  // far above says tokenizer breakage or noise — the cheap screen run
  // before spending on the C12/C36 n-gram passes.
  //
  // Exactness: all counts are integers (the tf rollup is exact); the
  // two ratios are single divisions of < 2^53 integers — one
  // correctly-rounded IEEE op each. sum(n) is CAST to BIGINT on both
  // sides (the HUGEINT lesson).
  //
  // Scale (100 TB): word-count shape — one (source, token) map-side-
  // combinable rollup is the only corpus-scale job (the dominant cost
  // is the tokenize kernel, map-side and ingest-spread); the per-source
  // rollup consumes the vocabulary-sized frame. |sources| output rows.
  //
  // Completeness contract (round-13 ADVICE): a source whose documents
  // ALL tokenize to zero tokens emits no row — explode here and unnest
  // in the oracle both drop empty arrays, so the omission is
  // cross-engine consistent, but it differs from C24's zero-token
  // row-pinning convention. Deliberate: this panel diagnoses the
  // VOCABULARY of a source, and an all-empty source has none — its
  // existence shows up in C6's raw per-source counts, the report read
  // next to this one.
  val hapaxStats = QueryDef.oracled(
    "text_hapax_stats",
    """WITH tok AS (SELECT source,
      |         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      |       FROM documents),
      |c AS (SELECT source, tok, count(*) AS n FROM tok GROUP BY 1, 2)
      |SELECT source, CAST(sum(n) AS BIGINT) AS total_tokens,
      |  count(*) AS distinct_terms,
      |  count(*) FILTER (WHERE n = 1) AS hapax_terms,
      |  count(*) FILTER (WHERE n = 2) AS dis_terms,
      |  CAST(count(*) AS DOUBLE) / CAST(sum(n) AS BIGINT) AS type_token_ratio,
      |  CAST(count(*) FILTER (WHERE n = 1) AS DOUBLE) / count(*)
      |    AS hapax_share
      |FROM c GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val c = Tables.spread(Tables.documents(s, d), s, "doc_id")
      .select(col("source"), explode(F.tokenize_words(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n"))
    c.groupBy(col("source"))
      .agg(sum(col("n")).cast("long").as("total_tokens"),
        count(lit(1)).as("distinct_terms"),
        count(when(col("n") === 1, lit(1))).as("hapax_terms"),
        count(when(col("n") === 2, lit(1))).as("dis_terms"))
      .select(col("source"), col("total_tokens"), col("distinct_terms"),
        col("hapax_terms"), col("dis_terms"),
        (col("distinct_terms").cast("double") / col("total_tokens"))
          .as("type_token_ratio"),
        (col("hapax_terms").cast("double") / col("distinct_terms"))
          .as("hapax_share"))
      .orderBy(col("source"))
  }

  def all: Seq[QueryDef] =
    Seq(tokenStats, quality, langId, fingerprint, clean, corpusStats,
      stratifiedSample, lengthHistogram, topTerms, tokenBudget, trainSplit,
      repetition, collocations, corpusPack, tfidf, bigramNovelty, rebalance,
      vocabCoverage, corpusChunk, unigramLm, bigramLm, importance, piiScrub,
      qualityBuckets, mixture, diversity, delta, winnowing, bpeMerges,
      bpeTokens, bpeVocab, sentenceStats, coverageCurve, syllableProfile,
      boilerplateNgrams, hapaxStats, stripBoilerplate, stripEffect,
      packStats)
}
