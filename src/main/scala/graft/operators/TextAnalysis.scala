package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Curation keep-rule thresholds shared by q77 (batch Gopher rules), q87
  * (composition-drift monitor), and s07 (streaming ingest filter) — ONE
  * definition, interpolated into both the Spark expressions and the
  * oracle SQL, so tuning the ingest filter can never silently diverge
  * from the monitor that reports on it. */
object CurationRules {
  val MinWords = 20L
  val MaxWords = 100000L
  val MinMeanLenMicro = 3000000L
  val MaxMeanLenMicro = 10000000L
  val MaxTopPermille = 120L
  val MinTtrPermille = 150L
}

/** Text-analysis operator family over `documents` (builder brief): token
  * counting, quality scoring, language ID, document fingerprinting.
  *
  * Determinism: every score is computed in integer arithmetic (counts,
  * per-mille ratios via integer division) so the DuckDB oracle hashes
  * identically — no float ratios anywhere.
  *
  * 100 TB scale: all four are pure narrow projections over the scan (no
  * shuffle except final aggregations); expressions are Catalyst
  * built-ins, so they stay inside whole-stage codegen — no UDFs.
  */
object TextAnalysis {

  /** The tokenizer subtoken pattern and vocabulary size shared by q31
    * (subtoken stats), q52 (vocabulary build), and q84 (OOV coverage
    * against that vocabulary) — q84's rate is only meaningful measured
    * against the EXACT vocabulary q52 reports. */
  private[operators] val SubtokenRe = "[a-z]+|[0-9]+"
  private[operators] val VocabK = 100

  /** q243/q245's shared integer BM25 scorer: per candidate doc (any doc
    * containing ≥ 1 probe word), the summed per-term scores plus the
    * query-term density — see q243's scaladoc for the exact integer
    * formula. Returns (doc_id, score_ppm, n_terms, tf_total, dl). */
  private def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select("doc_id", "text")
    val probe = d.orderBy("doc_id").limit(1)
      .select(explode(expr("slice(split(text, ' '), 6, 3)")).as("word"))
      .distinct()
    val words = d
      .select(col("doc_id"),
        explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dl = words.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      expr("sum(dl) * 1000 div count(1)").as("avg_m"))
    val tf = words.join(broadcast(probe), "word")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df.crossJoin(stats)
        .withColumn("idf_bits", expr("length(bin(n_docs div df)) - 1"))), "word")
      .join(dl, "doc_id")
      .withColumn("norm_m", expr("250 + 750 * (dl * 1000000 div avg_m) div 1000"))
      .withColumn("s_t", expr(
        """idf_bits * (tf * 2200 * 1000 div
             (tf * 1000 + 1200 * norm_m div 1000))"""))
      .groupBy("doc_id")
      .agg(sum("s_t").as("score_ppm"), count(lit(1)).as("n_terms"),
        sum("tf").as("tf_total"), first("dl").as("dl"))
  }

  /** Deterministic stopword sets per language. The fixture's five langs
    * share one vocabulary, so these are synthetic-but-honest marker sets:
    * the operator shape (per-lang hit counting + argmax) is the real
    * n-gram-heuristic language-ID pipeline. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "und", "data", "hash", "row"),
    "en" -> Seq("the", "a", "table", "join", "scan"),
    "es" -> Seq("el", "la", "value", "column", "sort"),
    "fr" -> Seq("le", "la", "query", "merge", "line"),
    "zh" -> Seq("de", "le", "batch", "stream", "window"))

  val all: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- q31
    // Token counting: whitespace tokens, distinct tokens, a BPE-ish
    // regex subtoken count (letter runs + digit runs + residual symbols),
    // and longest-token length.
    QueryDef(
      "q31_token_stats",
      (s, dir) =>
        Tables(s, dir, "documents")
          .select(
            col("doc_id"),
            size(split(col("text"), " ")).as("n_tokens"),
            size(array_distinct(split(col("text"), " "))).as("n_uniq"),
            size(expr(s"regexp_extract_all(text, '$SubtokenRe', 0)")).as("n_subtokens"),
            expr("aggregate(split(text, ' '), 0, (m, t) -> greatest(m, length(t)))")
              .as("max_token_len"))
          .orderBy("doc_id"),
      Some(s"""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_uniq,
               CAST(len(regexp_extract_all(text, '$SubtokenRe')) AS INT) AS n_subtokens,
               CAST(list_max(list_transform(string_split(text, ' '), t -> length(t))) AS INT)
                 AS max_token_len
        FROM documents
        ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q32
    // Quality scoring: per-mille stopword ratio, short-token ratio, and a
    // composite quality bucket — all integer arithmetic.
    QueryDef(
      "q32_quality_score",
      (s, dir) =>
        Tables(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .withColumn("n", size(col("toks")))
          .withColumn("sw", expr(
            """size(filter(toks, t -> t IN ('the', 'a', 'join', 'hash', 'row')))"""))
          .withColumn("short", expr("size(filter(toks, t -> length(t) <= 2))"))
          .select(
            col("doc_id"),
            col("n").as("n_tokens"),
            (col("sw") * 1000 / col("n")).cast("long").as("stopword_permille"),
            (col("short") * 1000 / col("n")).cast("long").as("short_permille"),
            when(col("n") >= 40 && col("sw") * 1000 / col("n") < 300, "good")
              .when(col("n") >= 15, "fair").otherwise("poor").as("quality"))
          .orderBy("doc_id"),
      Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
        m AS (SELECT doc_id, len(toks) n,
                     len(list_filter(toks, x -> x IN ('the', 'a', 'join', 'hash', 'row'))) sw,
                     len(list_filter(toks, x -> length(x) <= 2)) sh
              FROM t)
        SELECT doc_id, CAST(n AS INT) AS n_tokens,
               CAST(sw * 1000 // n AS BIGINT) AS stopword_permille,
               CAST(sh * 1000 // n AS BIGINT) AS short_permille,
               CASE WHEN n >= 40 AND sw * 1000 // n < 300 THEN 'good'
                    WHEN n >= 15 THEN 'fair' ELSE 'poor' END AS quality
        FROM m
        ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q33
    // Language ID: hit-count each language's marker set, argmax with
    // lexicographic tie-break; output the lang×predicted confusion matrix.
    QueryDef(
      "q33_lang_id",
      (s, dir) => {
        val scored = Tables(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
        val hitCols = langMarkers.map { case (lang, words) =>
          val inList = words.map(w => s"'$w'").mkString(", ")
          struct(
            expr(s"size(filter(toks, t -> t IN ($inList)))").as("hits"),
            lit(lang).as("lang"))
        }
        // argmax: highest hits, then lexicographically SMALLEST lang —
        // encode lang descending-safe by sorting the struct array and
        // taking the element with max (hits, reverse-lang) — done via
        // aggregate for a deterministic single pass.
        scored
          .withColumn("scores", array(hitCols: _*))
          .withColumn("pred", expr(
            """aggregate(scores, scores[0],
                 (best, x) -> IF(x.hits > best.hits, x, best)).lang"""))
          .groupBy(col("lang"), col("pred").as("pred_lang"))
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "pred_lang")
      },
      Some {
        val cases = langMarkers.map { case (lang, words) =>
          val inList = words.map(w => s"'$w'").mkString(", ")
          s"{'hits': len(list_filter(toks, t -> t IN ($inList))), 'lang': '$lang'}"
        }.mkString(",\n                 ")
        s"""
        WITH t AS (SELECT doc_id, lang, string_split(text, ' ') toks FROM documents),
        sc AS (SELECT doc_id, lang,
                 [$cases] AS scores
               FROM t),
        p AS (SELECT doc_id, lang,
                list_reduce(scores,
                  (best, x) -> CASE WHEN x.hits > best.hits THEN x ELSE best END).lang
                  AS pred_lang
              FROM sc)
        SELECT lang, pred_lang, COUNT(*) AS n
        FROM p GROUP BY lang, pred_lang
        ORDER BY lang, pred_lang"""
      }),

    // ---------------------------------------------------------------- q34
    // Document fingerprinting: polynomial rolling hash over code points,
    // mod 1e9+7 — pure integer arithmetic, identical in both engines.
    // The re-crawl corpus shows the fingerprint catching exact dups:
    // output is the duplicate-fingerprint groups.
    QueryDef(
      "q34_doc_fingerprint",
      (s, dir) => {
        // native codegen'd rolling hash (graft.plans.PolyHash) — the
        // aggregate(split(text,''), ...) HOF formulation it replaces was
        // interpreted per character (CodegenFallback) and materialized a
        // one-char-per-element array per doc; the expression walks code
        // points in one generated loop inside whole-stage codegen
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"))
          .unionByName(
            Tables(s, dir, "documents").filter(col("doc_id") % 5 === 0)
              .select((col("doc_id") + 100000).as("doc_id"), col("text")))
          .withColumn("fp", call_function("graft_polyhash", col("text")))
          .groupBy("fp")
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .filter(col("n_copies") > 1)
          .select("fp", "keep_id", "n_copies")
          .orderBy("keep_id")
      },
      Some("""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0),
        f AS (SELECT doc_id,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(text) + 1),
                      i -> CAST(unicode(text[i]) AS BIGINT))),
                  (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
              FROM corpus)
        SELECT fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        FROM f GROUP BY fp HAVING COUNT(*) > 1
        ORDER BY keep_id""")),

    // ---------------------------------------------------------------- q51
    // Stratified sampling — training-data curation: a deterministic
    // per-quality-bucket sample (the "mix N docs per stratum" step of
    // corpus assembly). The sample key is a fixed multiplicative scramble
    // of doc_id (Knuth hash mod a prime): pseudo-random order, exactly
    // replicable by the oracle. Scale shape: rank<=k over a window is
    // planned as WindowGroupLimit (map-side partial top-k per partition,
    // asserted in ScaleSpec), so a hot stratum never collects more than
    // k rows per task before the shuffle.
    QueryDef(
      "q51_stratified_sample",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .withColumn("n", size(col("toks")))
          .withColumn("sw", expr(
            """size(filter(toks, t -> t IN ('the', 'a', 'join', 'hash', 'row')))"""))
          .withColumn("stratum",
            when(col("n") >= 40 && col("sw") * 1000 / col("n") < 300, "good")
              .when(col("n") >= 15, "fair").otherwise("poor"))
          .withColumn("rkey", (col("doc_id") * 2654435761L) % 1000003L)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("stratum").orderBy(col("rkey"), col("doc_id"))
        d.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 20)
          .select(col("stratum"), col("rank"), col("doc_id"),
            col("n").cast("int").as("n_tokens"))
          .orderBy("stratum", "rank")
      },
      Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
        m AS (SELECT doc_id, len(toks) n,
                     len(list_filter(toks, x -> x IN ('the', 'a', 'join', 'hash', 'row'))) sw
              FROM t),
        st AS (SELECT doc_id, n,
                 CASE WHEN n >= 40 AND sw * 1000 // n < 300 THEN 'good'
                      WHEN n >= 15 THEN 'fair' ELSE 'poor' END AS stratum,
                 (doc_id * 2654435761) % 1000003 AS rkey
               FROM m)
        SELECT stratum, rank, doc_id, n_tokens FROM (
          SELECT stratum, doc_id, CAST(n AS INT) AS n_tokens,
                 CAST(row_number() OVER (PARTITION BY stratum
                   ORDER BY rkey, doc_id) AS INT) AS rank
          FROM st) r
        WHERE rank <= 20
        ORDER BY stratum, rank""")),

    // ---------------------------------------------------------------- q52
    // Corpus vocabulary: global top-100 subtokens by frequency (the
    // frequency table a tokenizer build starts from). Subtokens explode
    // to rows, counts partial-aggregate map-side, and the top-k is
    // TakeOrderedAndProject — each task keeps only its k best, no global
    // sort of the vocabulary ever materializes.
    QueryDef(
      "q52_vocab_topk",
      (s, dir) =>
        Tables(s, dir, "documents")
          .select(explode(expr(s"regexp_extract_all(text, '$SubtokenRe', 0)")).as("subtok"))
          .groupBy("subtok").agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("subtok")).limit(VocabK),
      Some(s"""
        SELECT t AS subtok, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(regexp_extract_all(text, '$SubtokenRe')) t
              FROM documents)
        GROUP BY t
        ORDER BY freq DESC, subtok
        LIMIT $VocabK""")),

    // ---------------------------------------------------------------- q77
    // Gopher-style composite filter rules (Rae et al. 2021 §A1.1 shape):
    // per document — token count bounds, mean word length bounds,
    // top-word dominance, type-token ratio — each an integer-arithmetic
    // signal, first failing rule = the reject reason (a curation run's
    // removal report). Plan: one explode → (doc_id, word) count
    // aggregate → (doc_id) roll-up; both shuffles are keyed and
    // partial-aggregated map-side, so the word-frequency pass scales
    // exactly like the tf stage of q58 at 100 TB. No interpreted HOF
    // lambdas anywhere — the per-word work happens in codegen'd
    // aggregates, not a per-row list fold.
    QueryDef(
      "q77_gopher_rules",
      (s, dir) => {
        val freq = Tables(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
        val stats = freq.groupBy("doc_id").agg(
          sum("cnt").as("n_words"),
          count(lit(1)).as("n_distinct"),
          max("cnt").as("top_cnt"),
          sum(length(col("w")) * col("cnt")).as("sum_len"))
        stats
          .withColumn("mean_len_micro", expr("sum_len * 1000000 div n_words"))
          .withColumn("top_permille", expr("top_cnt * 1000 div n_words"))
          .withColumn("ttr_permille", expr("n_distinct * 1000 div n_words"))
          .withColumn("reject_reason",
            when(col("n_words") < CurationRules.MinWords, "too_short")
              .when(col("n_words") > CurationRules.MaxWords, "too_long")
              .when(col("mean_len_micro") < CurationRules.MinMeanLenMicro, "short_words")
              .when(col("mean_len_micro") > CurationRules.MaxMeanLenMicro, "long_words")
              .when(col("top_permille") > CurationRules.MaxTopPermille, "top_word_dominance")
              .when(col("ttr_permille") < CurationRules.MinTtrPermille, "low_type_token_ratio")
              .otherwise("keep"))
          .select(col("doc_id"), col("n_words"), col("n_distinct"),
            col("mean_len_micro"), col("top_permille"), col("ttr_permille"),
            col("reject_reason"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH f AS (
          SELECT doc_id, w, COUNT(*) AS cnt
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
          WHERE length(w) > 0
          GROUP BY doc_id, w),
        st AS (
          SELECT doc_id,
                 CAST(SUM(cnt) AS BIGINT) AS n_words,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct,
                 CAST(MAX(cnt) AS BIGINT) AS top_cnt,
                 CAST(SUM(length(w) * cnt) AS BIGINT) AS sum_len
          FROM f GROUP BY doc_id),
        m AS (
          SELECT doc_id, n_words, n_distinct,
                 sum_len * 1000000 // n_words AS mean_len_micro,
                 top_cnt * 1000 // n_words AS top_permille,
                 n_distinct * 1000 // n_words AS ttr_permille
          FROM st)
        SELECT doc_id, n_words, n_distinct,
               CAST(mean_len_micro AS BIGINT) AS mean_len_micro,
               CAST(top_permille AS BIGINT) AS top_permille,
               CAST(ttr_permille AS BIGINT) AS ttr_permille,
               CASE WHEN n_words < ${CurationRules.MinWords} THEN 'too_short'
                    WHEN n_words > ${CurationRules.MaxWords} THEN 'too_long'
                    WHEN mean_len_micro < ${CurationRules.MinMeanLenMicro} THEN 'short_words'
                    WHEN mean_len_micro > ${CurationRules.MaxMeanLenMicro} THEN 'long_words'
                    WHEN top_permille > ${CurationRules.MaxTopPermille} THEN 'top_word_dominance'
                    WHEN ttr_permille < ${CurationRules.MinTtrPermille} THEN 'low_type_token_ratio'
                    ELSE 'keep' END AS reject_reason
        FROM m
        ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q81
    // Per-source quality percentile cut — "keep the best half of every
    // source" corpus curation: rank documents inside each source by an
    // integer type-token-ratio score and keep rank*2 <= source size.
    // Both windows share the same partition key, so the plan carries ONE
    // exchange on `source`; the cut threshold is relative (median), so
    // no global statistics pass is needed. Exact per-source ranking
    // costs a per-source sort — the honest price of an exact percentile;
    // at 100 TB you'd swap the rank for an approx_percentile threshold
    // (q53's sketch) and keep the same filter shape.
    QueryDef(
      "q81_source_quality_cut",
      (s, dir) => {
        val rankW = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("score").desc, col("doc_id"))
        val cntW = org.apache.spark.sql.expressions.Window.partitionBy("source")
        Tables(s, dir, "documents")
          .withColumn("w", split(col("text"), " "))
          .withColumn("n", size(col("w")).cast("long"))
          .withColumn("score",
            expr("cast(size(array_distinct(w)) AS BIGINT) * 1000 div n"))
          .withColumn("rk", row_number().over(rankW))
          .withColumn("cnt", count(lit(1)).over(cntW))
          .filter(col("rk") * 2 <= col("cnt"))
          .select(col("source"), col("rk"), col("doc_id"), col("score"))
          .orderBy("source", "rk")
      },
      Some("""
        WITH m AS (
          SELECT source, doc_id,
                 len(list_distinct(string_split(text, ' '))) * 1000
                   // len(string_split(text, ' ')) AS score
          FROM documents),
        r AS (
          SELECT source, doc_id, score,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY score DESC, doc_id) AS rk,
                 COUNT(*) OVER (PARTITION BY source) AS cnt
          FROM m)
        SELECT source, CAST(rk AS INT) AS rk, doc_id, CAST(score AS BIGINT) AS score
        FROM r
        WHERE rk * 2 <= cnt
        ORDER BY source, rk""")),

    // ---------------------------------------------------------------- q84
    // Vocabulary OOV rate — the tokenizer-coverage evaluation that pairs
    // with q52's vocabulary build: per document, what per-mille of its
    // subtokens fall outside the corpus top-100 vocabulary? The vocab is
    // top-k with a deterministic tie-break (freq desc, token asc), FIXED
    // cardinality, so its join side is a genuine broadcast at any SF —
    // the per-doc pass is then one narrow explode + broadcast probe +
    // keyed aggregate. Integer per-mille arithmetic throughout.
    QueryDef(
      "q84_vocab_oov_rate",
      (s, dir) => {
        val sub = Tables(s, dir, "documents")
          .select(col("doc_id"),
            explode(expr(s"regexp_extract_all(text, '$SubtokenRe', 0)")).as("t"))
        val vocab = sub.groupBy("t").agg(count(lit(1)).as("f"))
          .orderBy(col("f").desc, col("t")).limit(VocabK)
          .select(col("t"), lit(1).as("in_vocab"))
        sub.join(vocab, Seq("t"), "left_outer")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_subtokens"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("oov_permille", expr("n_oov * 1000 div n_subtokens"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH sub AS (
          SELECT doc_id, unnest(regexp_extract_all(text, '$SubtokenRe')) AS t
          FROM documents),
        vocab AS (
          SELECT t FROM (
            SELECT t, COUNT(*) AS f FROM sub GROUP BY t
            ORDER BY f DESC, t LIMIT $VocabK)),
        j AS (
          SELECT s.doc_id, CASE WHEN v.t IS NULL THEN 1 ELSE 0 END AS oov
          FROM sub s LEFT JOIN vocab v ON s.t = v.t)
        SELECT doc_id, COUNT(*) AS n_subtokens,
               CAST(SUM(oov) AS BIGINT) AS n_oov,
               CAST(SUM(oov) * 1000 // COUNT(*) AS BIGINT) AS oov_permille
        FROM j
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q87
    // Corpus-composition drift monitor: language shares before vs after
    // a curation pass (s07's stateless keep rules), in integer per-mille,
    // with the per-language delta. A curation run that silently skews
    // the language mix is a training-data incident — this is the report
    // that catches it. One keyed aggregate over the scan; the
    // lang-level totals window is bounded cardinality (it does not grow
    // with SF).
    QueryDef(
      "q87_lang_drift_monitor",
      (s, dir) => {
        Tables(s, dir, "documents")
          .withColumn("w", split(col("text"), " "))
          .withColumn("n", size(col("w")).cast("long"))
          .withColumn("sum_len",
            length(regexp_replace(col("text"), " ", "")).cast("long"))
          .withColumn("keep",
            col("n") >= CurationRules.MinWords
              && expr("sum_len * 1000000 div n") >= CurationRules.MinMeanLenMicro
              && expr("sum_len * 1000000 div n") <= CurationRules.MaxMeanLenMicro
              && expr("cast(size(array_distinct(w)) AS BIGINT) * 1000 div n")
                   >= CurationRules.MinTtrPermille)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_before"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_after"))
          .transform { byLang =>
            // corpus totals via a broadcast single-row aggregate (q58's
            // lazy idiom), not an all-rows window — no WindowExec noise
            val cached = byLang.persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            cached.join(broadcast(cached.agg(
              sum("n_before").as("tot_before"),
              sum("n_after").as("tot_after"))), lit(true))
          }
          .select(col("lang"),
            expr("n_before * 1000 div tot_before").as("permille_before"),
            expr("n_after * 1000 div tot_after").as("permille_after"),
            expr("n_after * 1000 div tot_after - n_before * 1000 div tot_before")
              .as("delta_permille"))
          .orderBy("lang")
      },
      Some(s"""
        WITH m AS (
          SELECT lang,
                 len(string_split(text, ' ')) AS n,
                 length(replace(text, ' ', '')) AS sum_len,
                 len(list_distinct(string_split(text, ' '))) AS nd
          FROM documents),
        k AS (
          SELECT lang,
                 CASE WHEN n >= ${CurationRules.MinWords}
                       AND sum_len * 1000000 // n >= ${CurationRules.MinMeanLenMicro}
                       AND sum_len * 1000000 // n <= ${CurationRules.MaxMeanLenMicro}
                       AND nd * 1000 // n >= ${CurationRules.MinTtrPermille}
                      THEN 1 ELSE 0 END AS keep
          FROM m),
        a AS (
          SELECT lang, COUNT(*) AS n_before, SUM(keep) AS n_after
          FROM k GROUP BY lang),
        t AS (
          SELECT lang, n_before, n_after,
                 SUM(n_before) OVER () AS tot_before,
                 SUM(n_after) OVER () AS tot_after
          FROM a)
        SELECT lang,
               CAST(n_before * 1000 // tot_before AS BIGINT) AS permille_before,
               CAST(n_after * 1000 // tot_after AS BIGINT) AS permille_after,
               CAST(n_after * 1000 // tot_after
                    - n_before * 1000 // tot_before AS BIGINT) AS delta_permille
        FROM t
        ORDER BY lang"""))
  ,

    // --------------------------------------------------------------- q141
    // Sharded inverted-index build — the posting-list construction a
    // search/retrieval layer runs over a curated corpus. Two-level
    // aggregation so a stop-word's posting list never materializes in
    // one task: (term, doc-block) groups first (block = doc_id div 100,
    // so each group holds <= 100 postings and the hot term's work
    // spreads over doc_id-many blocks), then a per-term roll-up that
    // combines BLOCK DIGESTS, not postings — the second shuffle carries
    // one 64-hex row per (term, block), never the raw doc ids again.
    // That is exactly how a 100 TB index build stays skew-safe: the
    // biggest single reduce group is bounded by the block size, not by
    // document frequency. Determinism: postings sorted numerically
    // inside a block, blocks sorted by zero-padded id in the roll-up,
    // sha2-256 at both levels (the q25-established DuckDB parity).
    QueryDef(
      "q141_inverted_index",
      (s, dir) => {
        val postings = Tables(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) > 0)
          .distinct() // term PRESENCE, one posting per (w, doc)
        val blocks = postings
          .withColumn("blk", expr("doc_id div 100"))
          .groupBy("w", "blk")
          .agg(
            count(lit(1)).as("df_blk"),
            sha2(expr(
              "array_join(transform(array_sort(collect_list(doc_id))," +
                " x -> cast(x as string)), ',')"), 256).as("blk_digest"))
        blocks
          .groupBy("w")
          .agg(
            sum("df_blk").as("df"),
            count(lit(1)).as("n_blocks"),
            sha2(expr(
              "array_join(array_sort(collect_list(" +
                "concat(lpad(cast(blk as string), 8, '0'), ':', blk_digest)" +
                ")), ',')"), 256).as("postings_digest"))
          .filter(col("df") >= 5)
          .orderBy(col("df").desc, col("w"))
          .limit(200)
      },
      Some("""
        WITH toks AS (
          SELECT DISTINCT doc_id, t AS w
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM documents)
          WHERE len(t) > 0),
        blk AS (
          SELECT w, doc_id // 100 AS blk,
                 CAST(COUNT(*) AS BIGINT) AS df_blk,
                 sha256(string_agg(CAST(doc_id AS VARCHAR), ','
                                   ORDER BY doc_id)) AS blk_digest
          FROM toks GROUP BY w, doc_id // 100)
        SELECT w, CAST(SUM(df_blk) AS BIGINT) AS df,
               CAST(COUNT(*) AS BIGINT) AS n_blocks,
               sha256(string_agg(lpad(CAST(blk AS VARCHAR), 8, '0') ||
                                   ':' || blk_digest, ','
                                 ORDER BY lpad(CAST(blk AS VARCHAR), 8, '0') ||
                                   ':' || blk_digest))
                 AS postings_digest
        FROM blk GROUP BY w
        HAVING SUM(df_blk) >= 5
        ORDER BY df DESC, w
        LIMIT 200"""))
  ,

    // --------------------------------------------------------------- q145
    // BPE merge-pair statistics — ONE iteration of byte-pair-encoding
    // tokenizer training: the corpus-wide frequency of every adjacent
    // character pair inside words, top-50 (the pair a BPE trainer would
    // merge next, plus the candidate list). The pair kernel is the
    // native codegen `graft_char_ngrams` expression (codepoint-aligned
    // byte slicing, linear per word) — the HOF spelling
    // `transform(sequence(...), i -> substring(w, i, 2))` is both
    // CodegenFallback and quadratic. Plan: scan → generate(words) →
    // generate(pairs) → partial-aggregated count — all narrow until the
    // aggregate's own reduced shuffle, top-50 via TakeOrdered. At
    // 100 TB this is the canonical tokenizer-training inner loop: the
    // shuffle carries one (pair, count) partial per task, bounded by
    // the alphabet², never by corpus size.
    QueryDef(
      "q145_bpe_pair_counts",
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 2)
          .select(explode(expr("graft_char_ngrams(w, 2)")).as("pair"))
          .groupBy("pair").agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("pair"))
          .limit(50)
      },
      Some("""
        WITH w AS (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        p AS (
          SELECT unnest(list_transform(range(1, length(w)),
                   i -> substring(w, i, 2))) AS pair
          FROM w WHERE length(w) >= 2)
        SELECT pair, CAST(COUNT(*) AS BIGINT) AS freq
        FROM p GROUP BY pair
        ORDER BY freq DESC, pair
        LIMIT 50""")),

    // --------------------------------------------------------------- q181
    // Flesch-style readability per source — the classic reading-ease
    // screen a curation pass runs next to q32's quality score, in exact
    // integer milli-units: syllables ≈ Latin-vowel groups (counted
    // case-explicitly — no lower(), whose Unicode mapping is
    // engine-specific), sentences ≈ terminal punctuation (floored at
    // 1), and the 206.835 − 1.015·W/S − 84.6·Syl/W formula evaluated
    // with one truncating division per term in BOTH engines, so the
    // per-source averages hash-match. Pure narrow map + one keyed
    // rollup; no shuffle carries text.
    QueryDef(
      "q181_readability",
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(col("source"),
            expr("size(split(text, ' '))").cast("long").as("w"),
            expr("greatest(regexp_count(text, '[.!?]'), 1)").cast("long").as("sn"),
            expr("greatest(regexp_count(text, '[aeiouAEIOU]+'), 1)")
              .cast("long").as("syl"))
          .select(col("source"),
            expr("""206835 - (1015 * (w * 1000 div sn)) div 1000
                           - (84600 * (syl * 1000 div w)) div 1000""")
              .as("f_milli"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            expr("sum(f_milli) div count(1)").as("avg_f_milli"),
            min("f_milli").as("min_f_milli"),
            max("f_milli").as("max_f_milli"))
          .orderBy("source")
      },
      Some("""
        WITH d AS (
          SELECT source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
                 GREATEST(CAST(len(regexp_extract_all(text, '[.!?]'))
                   AS BIGINT), 1) AS sn,
                 GREATEST(CAST(len(regexp_extract_all(text, '[aeiouAEIOU]+'))
                   AS BIGINT), 1) AS syl
          FROM documents),
        f AS (
          SELECT source,
                 206835 - (1015 * (w * 1000 // sn)) // 1000
                        - (84600 * (syl * 1000 // w)) // 1000 AS f_milli
          FROM d)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(f_milli) // COUNT(*) AS BIGINT) AS avg_f_milli,
               CAST(MIN(f_milli) AS BIGINT) AS min_f_milli,
               CAST(MAX(f_milli) AS BIGINT) AS max_f_milli
        FROM f GROUP BY source
        ORDER BY source""")),

    // --------------------------------------------------------------- q185
    // Pairwise vocabulary overlap between sources — "how much does
    // corpus A's word list share with corpus B's", the cheap
    // domain-similarity screen run before mixing sources into one
    // training blend. Exact set Jaccard over DISTINCT (source, token)
    // pairs, computed WITHOUT an all-pairs token join: tokens group
    // into their (bounded, ≤ n_sources) source sets once, and each
    // set's ordered pairs explode from that row — so the wide work is
    // one map-side-combining distinct plus one token-keyed aggregate,
    // and what moves per token is its source LIST, never a cross
    // product. Jaccard lands as exact ppm (intersection·10⁶ ÷ union).
    QueryDef(
      "q185_vocab_overlap",
      (s, dir) => {
        val vocab = Tables(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
          .distinct()
        val sizes = vocab.groupBy("source")
          .agg(count(lit(1)).as("vsz"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val inter = vocab.groupBy("tok")
          .agg(sort_array(collect_set(col("source"))).as("srcs"))
          .select(explode(expr(
            """flatten(transform(srcs, (a, i) ->
                 transform(slice(srcs, i + 2, size(srcs)),
                   b -> struct(a AS s1, b AS s2))))""")).as("p"))
          .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
          .agg(count(lit(1)).as("inter_sz"))
        inter
          .join(broadcast(sizes).withColumnRenamed("source", "s1")
            .withColumnRenamed("vsz", "v1"), "s1")
          .join(broadcast(sizes).withColumnRenamed("source", "s2")
            .withColumnRenamed("vsz", "v2"), "s2")
          .select(col("s1"), col("s2"), col("v1"), col("v2"), col("inter_sz"),
            expr("inter_sz * 1000000 div (v1 + v2 - inter_sz)")
              .as("jaccard_ppm"))
          .orderBy("s1", "s2")
      },
      Some("""
        WITH toks AS (
          SELECT source, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        v AS (SELECT DISTINCT source, tok FROM toks WHERE tok <> ''),
        sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS vsz
                  FROM v GROUP BY source),
        inter AS (
          SELECT a.source AS s1, b.source AS s2,
                 CAST(COUNT(*) AS BIGINT) AS inter_sz
          FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
          GROUP BY 1, 2)
        SELECT s1, s2, x.vsz AS v1, y.vsz AS v2, inter_sz,
               CAST(inter_sz * 1000000 // (x.vsz + y.vsz - inter_sz)
                 AS BIGINT) AS jaccard_ppm
        FROM inter
        JOIN sizes x ON x.source = s1
        JOIN sizes y ON y.source = s2
        ORDER BY s1, s2""")),

    // --------------------------------------------------------------- q186
    // Encoding-health audit per (source, lang) — the mojibake screen a
    // crawl-ingest pass runs before any tokenizer sees the text: bytes
    // vs characters (UTF-8 multi-byte spread), the byte-per-character
    // ratio in exact ppm, and how many documents carry U+FFFD (the
    // replacement character a lossy transcode leaves behind — counted
    // via chr(65533) in both engines, no literal in the source). Both
    // engines count CODE POINTS for length and UTF-8 bytes for
    // octet_length, so every number is exact integer arithmetic.
    // Scale shape: one narrow codegen map over the corpus, one keyed
    // rollup that partial-aggregates map-side; no shuffle carries text.
    QueryDef(
      "q186_encoding_audit",
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(col("source"), col("lang"),
            length(col("text")).cast("long").as("nchars"),
            octet_length(col("text")).cast("long").as("nbytes"),
            expr("contains(text, chr(65533))").as("has_repl"))
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("nchars").as("n_chars"),
            sum("nbytes").as("n_bytes"),
            sum(expr("nbytes - nchars")).as("extra_bytes"),
            expr("count_if(has_repl)").as("n_repl_docs"),
            expr("cast(sum(nbytes) * 1000000 div sum(nchars) AS BIGINT)")
              .as("bpc_ppm"))
          .orderBy("source", "lang")
      },
      Some("""
        WITH d AS (
          SELECT source, lang,
                 CAST(length(text) AS BIGINT) AS nchars,
                 CAST(octet_length(encode(text)) AS BIGINT) AS nbytes,
                 CASE WHEN position(chr(65533) IN text) > 0
                      THEN TRUE ELSE FALSE END AS has_repl
          FROM documents)
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(nchars) AS BIGINT) AS n_chars,
               CAST(SUM(nbytes) AS BIGINT) AS n_bytes,
               CAST(SUM(nbytes - nchars) AS BIGINT) AS extra_bytes,
               CAST(count_if(has_repl) AS BIGINT) AS n_repl_docs,
               CAST(SUM(nbytes) * 1000000 // SUM(nchars) AS BIGINT) AS bpc_ppm
        FROM d GROUP BY source, lang
        ORDER BY source, lang""")),

    // --------------------------------------------------------------- q195
    // Regexp-function breadth — regexp_count / regexp_extract /
    // regexp_replace / first-match position exercised per document and
    // rolled up per source. Patterns are restricted to plain character
    // classes ([0-9], [A-Z][a-z]) — the subset Java's regex engine and
    // DuckDB's RE2 interpret identically (no backrefs, no lookaround,
    // no predefined classes whose Unicode scope differs). The
    // first-capital position is regexp_instr on the Spark side and the
    // equivalent leading-prefix length + 1 in DuckDB (which lacks
    // regexp_instr) — same number by construction; DuckDB's
    // regexp_replace needs the explicit 'g' flag to match Spark's
    // replace-all default. One narrow codegen map + one keyed rollup.
    QueryDef(
      "q195_regex_breadth",
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(col("source"),
            expr("regexp_count(text, '[0-9]+')").as("n_nums"),
            expr("regexp_count(text, '[A-Z][a-z]+')").as("n_caps"),
            expr("length(text) - length(regexp_replace(text, '[0-9]', ''))")
              .as("n_digit_chars"),
            expr("regexp_instr(text, '[A-Z]')").as("cap_pos"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_nums").as("sum_numbers"),
            expr("count_if(n_nums > 0)").as("docs_with_numbers"),
            sum("n_caps").as("sum_capwords"),
            sum("n_digit_chars").as("sum_digit_chars"),
            min(when(col("cap_pos") > 0, col("cap_pos"))).as("min_cap_pos"),
            max(col("cap_pos")).as("max_cap_pos"))
          .orderBy("source")
      },
      Some("""
        WITH d AS (
          SELECT source,
                 CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
                   AS n_nums,
                 CAST(len(regexp_extract_all(text, '[A-Z][a-z]+')) AS BIGINT)
                   AS n_caps,
                 CAST(length(text)
                      - length(regexp_replace(text, '[0-9]', '', 'g'))
                   AS BIGINT) AS n_digit_chars,
                 CASE WHEN regexp_matches(text, '[A-Z]')
                      THEN CAST(length(regexp_extract(text, '^[^A-Z]*')) + 1
                        AS BIGINT)
                      ELSE 0 END AS cap_pos
          FROM documents)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_nums) AS BIGINT) AS sum_numbers,
               CAST(count_if(n_nums > 0) AS BIGINT) AS docs_with_numbers,
               CAST(SUM(n_caps) AS BIGINT) AS sum_capwords,
               CAST(SUM(n_digit_chars) AS BIGINT) AS sum_digit_chars,
               CAST(MIN(CASE WHEN cap_pos > 0 THEN cap_pos END) AS BIGINT)
                 AS min_cap_pos,
               CAST(MAX(cap_pos) AS BIGINT) AS max_cap_pos
        FROM d GROUP BY source
        ORDER BY source""")),

    // --------------------------------------------------------------- q216
    // Document version diff — the refresh-pipeline step when a crawl
    // re-fetches a page: each document joins its NEW REVISION (here the
    // deterministic suffix-dropped variant — every 7th doc loses its
    // last word) on the known version lineage key, and the pair is
    // scored with exact character-level edit distance (both engines'
    // built-in Levenshtein DP agrees cell-for-cell) plus a similarity
    // ppm and a classification: a pure tail deletion has lev == Δlen,
    // anything else was edited in place. Scale shape: version lineage
    // is an EQUI-join (no candidate generation — the key is known),
    // and the per-pair DP is bounded by document length, embarrassingly
    // parallel.
    QueryDef(
      "q216_version_diff",
      (s, dir) => {
        // spread BEFORE the per-pair Levenshtein DP: documents is a
        // single row group, so without it the whole O(Σ len²) DP —
        // 7.5e9 cells at sf1 — serializes on ONE task (r15 sf1 gate:
        // 26 s iso, 16x the sf0.1 wall for 13.8x the DP cells). The
        // revised side (1/7th of docs, slim) is BROADCAST: a sort-merge
        // join here ends in spark-originated exchanges that AQE
        // coalesces by ROW size — the DP's CPU cost is invisible to
        // the advisory-size heuristic, so the join output collapsed
        // back to one task (measured 30.2 s, worse than unspread).
        // Broadcast keeps the DP on the 32 user-pinned spread
        // partitions end to end (4.1 s at sf1, was 26.0).
        val d0 = Tables(s, dir, "documents").select("doc_id", "text")
        val d = Tables.spread(d0, col("doc_id"))
        val revised = d0.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id").as("rid"),
            regexp_replace(col("text"), " \\S+$", "").as("new_text"))
        d.join(broadcast(revised), col("doc_id") === col("rid"))
          .select(col("doc_id"),
            length(col("text")).cast("long").as("len_old"),
            length(col("new_text")).cast("long").as("len_new"),
            levenshtein(col("text"), col("new_text")).cast("long").as("lev"))
          .withColumn("similarity_ppm",
            // nullif: an empty original doc pins NULL in both engines
            // rather than a DuckDB div-by-zero abort
            expr("(len_old - lev) * 1000000 div nullif(len_old, 0)"))
          .withColumn("change", expr(
            "CASE WHEN lev = len_old - len_new THEN 'tail_deletion' " +
              "ELSE 'edited' END"))
          .orderBy("doc_id")
      },
      Some("""
        WITH r AS (
          SELECT doc_id AS rid,
                 regexp_replace(text, ' \S+$', '') AS new_text
          FROM documents WHERE doc_id % 7 = 0),
        p AS (
          SELECT d.doc_id,
                 CAST(length(d.text) AS BIGINT) AS len_old,
                 CAST(length(r.new_text) AS BIGINT) AS len_new,
                 CAST(levenshtein(d.text, r.new_text) AS BIGINT) AS lev
          FROM documents d JOIN r ON d.doc_id = r.rid)
        SELECT doc_id, len_old, len_new, lev,
               CAST((len_old - lev) * 1000000 // nullif(len_old, 0) AS BIGINT)
                 AS similarity_ppm,
               CASE WHEN lev = len_old - len_new THEN 'tail_deletion'
                    ELSE 'edited' END AS change
        FROM p
        ORDER BY doc_id""")),

    // --------------------------------------------------------------- q226
    // Collocation mining — corpus bigrams ranked by LIFT, the log-free
    // PMI: lift = p(xy)/(p(x)·p(y)) = b·Tu² ÷ (u(x)·u(y)·Tb) in exact
    // ppm, so "strongly associated word pairs" (multiword terms,
    // named entities) surface without any float log. Bigrams stream
    // from the native `graft_word_ngrams` codegen kernel; unigram
    // counts join back on the bigram's two words (the frequency tables
    // are vocab-bounded — slim join sides); support ≥ 5 prunes noise
    // and the top-30 lands in TakeOrderedAndProject. DECIMAL(38)
    // carries b·Tu²·10⁶ (~10²⁰ at sf0.1).
    QueryDef(
      "q226_collocations",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val uni = docs
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
          .groupBy("tok").agg(count(lit(1)).as("uc"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val tu = uni.agg(sum("uc").as("tu"))
        val bi = docs
          .select(explode(call_function("graft_word_ngrams",
            col("text"), lit(2))).as("g"))
          .groupBy("g").agg(count(lit(1)).as("b"))
          .filter(col("b") >= 5)
        val tb = bi.agg(sum("b").as("tb"))
        bi
          .withColumn("x", expr("split(g, ' ')[0]"))
          .withColumn("y", expr("split(g, ' ')[1]"))
          .join(uni.select(col("tok").as("x"), col("uc").as("ux")), "x")
          .join(uni.select(col("tok").as("y"), col("uc").as("uy")), "y")
          .crossJoin(broadcast(tu)).crossJoin(broadcast(tb))
          .select(col("g").as("bigram"), col("b"),
            expr("""cast(cast(b AS DECIMAL(38,0)) * tu * tu * 1000000
                         div (cast(ux AS DECIMAL(38,0)) * uy * tb)
                    AS BIGINT)""").as("lift_ppm"))
          .orderBy(col("lift_ppm").desc, col("bigram"))
          .limit(30)
      },
      Some("""
        WITH toks AS (
          SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS uc
                FROM toks WHERE tok <> '' GROUP BY tok),
        tu AS (SELECT CAST(SUM(uc) AS BIGINT) AS tu FROM uni),
        ws AS (SELECT string_split(text, ' ') AS w FROM documents),
        grams AS (
          SELECT unnest(list_transform(range(1, len(w)),
                 i -> w[i] || ' ' || w[i + 1])) AS g
          FROM ws),
        bi AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS b
               FROM grams GROUP BY g HAVING COUNT(*) >= 5),
        tb AS (SELECT CAST(SUM(b) AS BIGINT) AS tb FROM bi),
        scored AS (
          SELECT bi.g AS bigram, bi.b,
                 CAST(CAST(bi.b AS HUGEINT) * tu.tu * tu.tu * 1000000
                      // (CAST(ux.uc AS HUGEINT) * uy.uc * tb.tb) AS BIGINT)
                   AS lift_ppm
          FROM bi
          JOIN uni ux ON ux.tok = string_split(bi.g, ' ')[1]
          JOIN uni uy ON uy.tok = string_split(bi.g, ' ')[2]
          CROSS JOIN tu CROSS JOIN tb)
        SELECT bigram, b, lift_ppm
        FROM scored
        ORDER BY lift_ppm DESC, bigram
        LIMIT 30"""))
  ,

    // --------------------------------------------------------------- q240
    // Positional phrase search — q141's inverted index upgraded with
    // POSITIONS: exact-phrase retrieval ("these three words, adjacent,
    // in order") is the query shape bag-of-words postings cannot
    // answer. The probe phrase is deterministic (words 6–8 of the
    // min-id document, shipped as a single-row broadcast — no driver
    // collect), and the match is the classic positional-join: postings
    // for w1 equi-join postings for w2 at pos+1, then w3 at pos+2, all
    // keyed on (doc, pos) — three word-keyed shuffles whose sides are
    // each ONE word's postings list, never the corpus. Per matching
    // doc: occurrence count and first position; the probe doc itself
    // must surface at its planted offset.
    QueryDef(
      "q240_phrase_search",
      (s, dir) => {
        val d = Tables(s, dir, "documents").select("doc_id", "text")
        val posts = d
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val probe = d.orderBy("doc_id").limit(1)
          .select(expr("split(text, ' ')[5]").as("w1"),
            expr("split(text, ' ')[6]").as("w2"),
            expr("split(text, ' ')[7]").as("w3"))
        val p1 = posts.join(broadcast(probe), col("word") === col("w1"))
          .select(col("doc_id"), col("pos"))
        val p2 = posts.join(broadcast(probe), col("word") === col("w2"))
          .select(col("doc_id").as("d2"), col("pos").as("q2"))
        val p3 = posts.join(broadcast(probe), col("word") === col("w3"))
          .select(col("doc_id").as("d3"), col("pos").as("q3"))
        p1.join(p2, col("doc_id") === col("d2") && col("q2") === col("pos") + 1)
          .join(p3, col("doc_id") === col("d3") && col("q3") === col("pos") + 2)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_matches"),
            min("pos").cast("long").as("first_pos"))
          .orderBy("doc_id")
      },
      Some("""
        WITH ws AS (
          SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        posts AS (
          SELECT doc_id, UNNEST(range(len(w))) AS pos, UNNEST(w) AS word
          FROM ws),
        probe AS (
          SELECT w[6] AS w1, w[7] AS w2, w[8] AS w3
          FROM ws WHERE doc_id = (SELECT MIN(doc_id) FROM documents)),
        m AS (
          SELECT p1.doc_id, p1.pos
          FROM posts p1
          JOIN probe ON p1.word = probe.w1
          JOIN posts p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
                        AND p2.word = probe.w2
          JOIN posts p3 ON p3.doc_id = p1.doc_id AND p3.pos = p1.pos + 2
                        AND p3.word = probe.w3)
        SELECT doc_id, COUNT(*) AS n_matches,
               CAST(MIN(pos) AS BIGINT) AS first_pos
        FROM m
        GROUP BY doc_id
        ORDER BY doc_id"""))
  ,

    // --------------------------------------------------------------- q243
    // BM25-family ranked retrieval — the scorer behind every keyword
    // search / hybrid-RAG candidate stage, in EXACT integer arithmetic:
    // idf as whole bits (⌊log2(N/df)⌋ = length(bin(N div df))−1, the
    // q193 float-free log), k1 = 1.2 and b = 0.75 as the pinned milli
    // constants 1200/750, document-length normalization in ppm of the
    // corpus mean, every division truncating in both engines:
    //   norm_m  = 250 + 750·(dl·10⁶ div avg_m) div 1000
    //   s(t,d)  = idf_bits · (tf·2200·1000 div (tf·1000 + 1200·norm_m div 1000))
    // summed over the 3-word probe (q240's broadcast probe discipline),
    // top-20 by (score, doc_id) through TakeOrderedAndProject. Scale
    // shape: the explode feeds a broadcast SEMI join on the probe words
    // before any aggregation, so only probe postings survive; at 100 TB
    // you'd probe q141's persisted inverted index instead of re-scanning
    // — the scoring algebra is identical either way.
    QueryDef(
      "q243_bm25_retrieval",
      (s, dir) =>
        bm25Scored(s, dir)
          .select("doc_id", "score_ppm", "n_terms")
          .orderBy(col("score_ppm").desc, col("doc_id"))
          .limit(20),
      Some("""
        WITH probe AS (
          SELECT DISTINCT UNNEST(string_split(text, ' ')[6:8]) AS word
          FROM documents
          WHERE doc_id = (SELECT MIN(doc_id) FROM documents)),
        words AS (
          SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
          FROM documents),
        w2 AS (SELECT doc_id, word FROM words WHERE word <> ''),
        dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
               FROM w2 GROUP BY doc_id),
        stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                         CAST(SUM(dl) AS BIGINT) * 1000 // COUNT(*) AS avg_m
                  FROM dl),
        tf AS (
          SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
          FROM w2 JOIN probe USING (word)
          GROUP BY doc_id, word),
        df AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df
               FROM tf GROUP BY word),
        scored AS (
          SELECT tf.doc_id,
                 (length(bin(n_docs // df.df)) - 1)
                   * (tf.tf * 2200 * 1000 //
                      (tf.tf * 1000
                       + 1200 * (250 + 750 * (dl.dl * 1000000 // avg_m) // 1000)
                         // 1000)) AS s_t
          FROM tf JOIN df USING (word)
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN stats)
        SELECT doc_id, CAST(SUM(s_t) AS BIGINT) AS score_ppm,
               COUNT(*) AS n_terms
        FROM scored
        GROUP BY doc_id
        ORDER BY score_ppm DESC, doc_id
        LIMIT 20"""))
  ,

    // --------------------------------------------------------------- q245
    // Reciprocal-rank fusion — the hybrid-retrieval combiner (RAG stacks
    // fuse a lexical and a semantic ranking this way because scores are
    // incomparable across retrievers but RANKS are): two rankings of the
    // same candidate set — BM25 (q243's scorer) and query-term DENSITY
    // (tf_total·10⁶ div dl, the normalized-overlap retriever) — fuse as
    // RRF(d) = Σᵢ 10⁶ div (60 + rankᵢ(d)) with the standard k = 60, all
    // integer. Both rank windows are UNKEYED but run over the candidate
    // set only (docs sharing ≥ 1 probe word — probe-bounded, not
    // corpus-bounded; at web scale each retriever's top-k feeds the
    // fusion instead, same algebra). Top-10 by (fused, doc_id).
    QueryDef(
      "q245_reciprocal_rank_fusion",
      (s, dir) => {
        val scored = bm25Scored(s, dir)
          .withColumn("density_ppm", expr("tf_total * 1000000 div dl"))
        val wA = org.apache.spark.sql.expressions.Window
          .orderBy(col("score_ppm").desc, col("doc_id"))
        val wB = org.apache.spark.sql.expressions.Window
          .orderBy(col("density_ppm").desc, col("doc_id"))
        scored
          .withColumn("rank_bm25", row_number().over(wA).cast("long"))
          .withColumn("rank_density", row_number().over(wB).cast("long"))
          .withColumn("rrf_ppm", expr(
            "1000000 div (60 + rank_bm25) + 1000000 div (60 + rank_density)"))
          .select("doc_id", "rank_bm25", "rank_density", "rrf_ppm")
          .orderBy(col("rrf_ppm").desc, col("doc_id"))
          .limit(10)
      },
      Some("""
        WITH probe AS (
          SELECT DISTINCT UNNEST(string_split(text, ' ')[6:8]) AS word
          FROM documents
          WHERE doc_id = (SELECT MIN(doc_id) FROM documents)),
        words AS (
          SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
          FROM documents),
        w2 AS (SELECT doc_id, word FROM words WHERE word <> ''),
        dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
               FROM w2 GROUP BY doc_id),
        stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                         CAST(SUM(dl) AS BIGINT) * 1000 // COUNT(*) AS avg_m
                  FROM dl),
        tf AS (
          SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
          FROM w2 JOIN probe USING (word)
          GROUP BY doc_id, word),
        df AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df
               FROM tf GROUP BY word),
        agg AS (
          SELECT tf.doc_id,
                 CAST(SUM((length(bin(n_docs // df.df)) - 1)
                   * (tf.tf * 2200 * 1000 //
                      (tf.tf * 1000
                       + 1200 * (250 + 750 * (dl.dl * 1000000 // avg_m) // 1000)
                         // 1000))) AS BIGINT) AS score_ppm,
                 CAST(SUM(tf.tf) AS BIGINT) * 1000000 // MIN(dl.dl)
                   AS density_ppm
          FROM tf JOIN df USING (word)
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN stats
          GROUP BY tf.doc_id),
        ranked AS (
          SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY score_ppm DESC, doc_id)
                   AS BIGINT) AS rank_bm25,
                 CAST(row_number() OVER (ORDER BY density_ppm DESC, doc_id)
                   AS BIGINT) AS rank_density
          FROM agg)
        SELECT doc_id, rank_bm25, rank_density,
               1000000 // (60 + rank_bm25) + 1000000 // (60 + rank_density)
                 AS rrf_ppm
        FROM ranked
        ORDER BY rrf_ppm DESC, doc_id
        LIMIT 10"""))
  ,

    // --------------------------------------------------------------- q250
    // Postings delta-compression audit — the storage-planning number
    // behind every inverted index (q141/q240): doc-id posting lists
    // store GAPS, varint-encoded, so a term's index cost is
    // Σ ceil(bits(v)/7) bytes where v is doc_id+1 for the head posting
    // and the id gap after (+1 so the zero-id head stays encodable;
    // gaps in a deduped sorted list are ≥ 1). bits(v) is the integer
    // floor-log2+1 (length(bin(v)) — the q193 discipline, no float
    // log), so both engines count identical bytes. Output: the top-20
    // terms by document frequency with raw (8 B/id) vs varint bytes
    // and the compression ratio in permille. One keyed lag per term +
    // one bounded rollup; heavy terms cost their postings length,
    // never the corpus.
    QueryDef(
      "q250_postings_compression",
      (s, dir) => {
        val posts = Tables(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) > 0)
          .distinct()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("word").orderBy("doc_id")
        posts
          .withColumn("prev", lag("doc_id", 1).over(w))
          .withColumn("v", expr(
            "CASE WHEN prev IS NULL THEN doc_id + 1 ELSE doc_id - prev END"))
          .withColumn("vbytes", expr("(length(bin(v)) + 6) div 7"))
          .groupBy("word")
          .agg(count(lit(1)).as("df"),
            (count(lit(1)) * 8L).as("raw_bytes"),
            sum("vbytes").as("varint_bytes"))
          .withColumn("ratio_permille",
            expr("varint_bytes * 1000 div raw_bytes"))
          .orderBy(col("df").desc, col("word"))
          .limit(20)
      },
      Some("""
        WITH posts AS (
          SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS word
          FROM documents),
        p2 AS (SELECT doc_id, word FROM posts WHERE word <> ''),
        g AS (
          SELECT word,
                 CASE WHEN lag(doc_id) OVER (PARTITION BY word ORDER BY doc_id)
                        IS NULL
                      THEN doc_id + 1
                      ELSE doc_id - lag(doc_id) OVER (PARTITION BY word
                                                      ORDER BY doc_id) END AS v
          FROM p2),
        b AS (SELECT word, (length(bin(v)) + 6) // 7 AS vbytes FROM g)
        SELECT word, CAST(COUNT(*) AS BIGINT) AS df,
               CAST(COUNT(*) * 8 AS BIGINT) AS raw_bytes,
               CAST(SUM(vbytes) AS BIGINT) AS varint_bytes,
               CAST(SUM(vbytes) AS BIGINT) * 1000 // (COUNT(*) * 8)
                 AS ratio_permille
        FROM b
        GROUP BY word
        ORDER BY df DESC, word
        LIMIT 20"""))
  ,

    // --------------------------------------------------------------- q254
    // BPE tokenizer APPLICATION + token-cost accounting (VERDICT r7
    // item 3) — q145 computes one round of merge-pair statistics (the
    // training half); this operator runs the full loop a tokenizer team
    // ships: LEARN a bounded merges table (6 sequential BPE rounds —
    // each round recounts adjacent TOKEN pairs on the partially-merged
    // corpus, takes the top pair, applies it) and then ENCODE every
    // word, reporting the per-source TOKEN COSTS that every mixture
    // (q67) and packing (q78) decision actually keys on.
    //
    // Token-sequence representation: each token wrapped in '|' sentinels
    // and concatenated ("the" → "|t||h||e|"; the fixture corpus is
    // pipe-free, asserted below). Applying merge (x,y) is then ONE
    // literal leftmost-non-overlapping replace of "|x||y|" with "|xy|" —
    // the doubled boundary makes adjacent merge sites independent
    // ("|l||l||l||l|" → "|ll||ll|", never the single-separator bug where
    // the shared boundary is consumed), and Spark's StringReplace and
    // DuckDB's replace() pin identical semantics, so the encoding is
    // oracle-exact with no custom kernel. The whole encode path is
    // codegen'd built-ins (regexp_replace/replace/split) plus the
    // graft_word_ngrams native kernel for per-round pair counting — no
    // per-row UDF, no interpreted HOF.
    //
    // The q244 discipline: the exploded word table is persisted ONCE and
    // every round's recount plus the final costing read it; the driver
    // sees ONE (pair) row per round — the merges table is metadata-sized
    // by construction (R=6 rows), exactly what a 100 TB run broadcasts.
    // The oracle unrolls the same 6 rounds as MATERIALIZED CTEs.
    QueryDef(
      "q254_bpe_encode_token_costs",
      (s, dir) => {
        // session-shared word frame + merges table (one learn per run,
        // consumed by q254/s38/q276)
        val words = bpeWordsShared(s, dir)
        val enc = bpeApply(col("s0"), bpeMerges(s, dir))
        val perDoc = words
          .select(col("doc_id"), col("source"), col("nchar"),
            size(split(call_function("btrim", enc, lit("|")), "\\|\\|"))
              .cast("long").as("ntok"))
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("nw"), sum("ntok").as("nt"),
            sum("nchar").as("nc"))
        tokenCostReport(perDoc)
      },
      Some(bpeOracle))
  ,

    // --------------------------------------------------------------- q276
    // TOKENIZER-AWARE sequence packing — the exact bridge VERDICT r8
    // asked for between q254's token costs and a training run: where
    // q272 packs by whitespace word counts (a proxy), this op measures
    // every document with the LEARNED BPE tokenizer (the session-shared
    // merges table — one learn per run, q254/s38/q276) and runs the
    // same bucketed first-fit packing on the REAL token costs, because
    // padding waste and truncation loss are paid in tokenizer tokens,
    // not words. The two reports differ exactly where tokenization
    // compresses or inflates a source (cf. q254's tokens_per_kchar) —
    // reading them side by side is how a pipeline owner decides whether
    // word-count planning is good enough. Shape: the shared word frame
    // encodes via literal sentinel replaces (codegen'd), one keyed
    // aggregate produces (doc, nt), then q272's keyed packing algebra.
    QueryDef(
      "q276_bpe_pack_accounting",
      (s, dir) => {
        val words = bpeWordsShared(s, dir)
        val enc = bpeApply(col("s0"), bpeMerges(s, dir))
        val perDoc = words
          .select(col("doc_id"), col("source"),
            size(split(call_function("btrim", enc, lit("|")), "\\|\\|"))
              .cast("long").as("ntok"))
          .groupBy("doc_id", "source")
          .agg(sum("ntok").as("nt"))
        TrainingDataOps.packReport(perDoc)
      },
      Some(bpePackOracle))
  ,

    // --------------------------------------------------------------- q263
    // RETRIEVAL EVAL — recall@k and MRR, the numbers a RAG/search stack
    // reports before trusting its retriever (q243 scores, q245 fuses;
    // nothing yet MEASURED retrieval). Deterministic query set: every
    // doc with doc_id % 97 = 3 asks for its own words 6–8 (distinct),
    // gold = the originating doc — self-retrieval, the standard
    // synthetic-relevance protocol, and the gold is guaranteed a
    // candidate because it contains its own query words. Scoring is
    // q243's exact-integer BM25 per (query, candidate). The gold's rank
    // comes from RANK-BY-COUNTING — count the candidates that beat it
    // ((score, doc_id) tiebreak) + 1 — one keyed aggregate, NO
    // per-query sort and no window; the only per-query state is the
    // single broadcast gold-score row. recall@1/@10 and MRR in exact
    // ppm (10⁶ div rank, truncating in both engines) roll up per query
    // source. 100 TB: queries are ~1% of docs, candidates stay
    // probe-bounded per query (only docs sharing a query word score;
    // at web scale the scorer probes q141's persisted index — q243's
    // note — and the counting rank needs no global order either way).
    QueryDef(
      "q263_retrieval_eval",
      (s, dir) => {
        val qd = retrievalScores(s, dir)
        val d = Tables(s, dir, "documents").select("doc_id", "source", "text")
        val gold = qd.filter(col("query_id") === col("doc_id"))
          .select(col("query_id"), col("score").as("gold_score"))
        val rk = qd.join(broadcast(gold), "query_id")
          .groupBy("query_id")
          .agg((sum(when(col("score") > col("gold_score") ||
              (col("score") === col("gold_score") &&
                col("doc_id") < col("query_id")), 1L).otherwise(0L)) + 1L)
              .as("rnk"),
            count(lit(1)).as("n_cand"))
        rk.join(d.filter(col("doc_id") % 97 === 3)
            .select(col("doc_id").as("query_id"), col("source")), "query_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_queries"),
            sum(when(col("rnk") === 1L, 1L).otherwise(0L)).as("hits_at_1"),
            sum(when(col("rnk") <= 10L, 1L).otherwise(0L)).as("hits_at_10"),
            sum(expr("1000000 div rnk")).as("rr_sum"),
            sum("n_cand").as("n_cand_total"))
          .select(col("source"), col("n_queries"), col("hits_at_1"),
            col("hits_at_10"),
            expr("rr_sum div n_queries").as("mrr_ppm"),
            col("n_cand_total"))
          .orderBy("source")
      },
      Some(s"""
        WITH $duckRetrievalCtes,
        gold AS (SELECT query_id, score AS gold_score
                 FROM qd WHERE query_id = doc_id),
        rk AS (
          SELECT qd.query_id,
                 1 + CAST(count_if(qd.score > g.gold_score OR
                       (qd.score = g.gold_score AND qd.doc_id < qd.query_id))
                     AS BIGINT) AS rnk,
                 CAST(COUNT(*) AS BIGINT) AS n_cand
          FROM qd JOIN gold g USING (query_id)
          GROUP BY qd.query_id),
        qsrc AS (SELECT doc_id AS query_id, source
                 FROM documents WHERE doc_id % 97 = 3)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_queries,
               CAST(count_if(rnk = 1) AS BIGINT) AS hits_at_1,
               CAST(count_if(rnk <= 10) AS BIGINT) AS hits_at_10,
               CAST(SUM(1000000 // rnk) AS BIGINT) // COUNT(*) AS mrr_ppm,
               CAST(SUM(n_cand) AS BIGINT) AS n_cand_total
        FROM rk JOIN qsrc USING (query_id)
        GROUP BY source
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q265
    // Held-out BIGRAM language-model eval — bits/token on a held-out
    // split, the perplexity-proxy number a pretraining run tracks per
    // source (q193 scores unigram surprisal against the corpus itself;
    // this is the LM-EVAL shape: train on ~4/5 of the corpus, measure
    // on a held-out ~1/5 chosen by CONTENT HASH — q74's split device,
    // not doc_id arithmetic, which in this fixture aliases with the
    // source key and would collapse the eval to a quarter of the
    // sources). Add-one-smoothed bigram model entirely in
    // integers: context counts c1(w1) derive from the bigram table
    // (Σ_w2 c12 — so model and context tables cannot disagree), V =
    // train vocabulary, and each held-out bigram costs
    //   bits = ⌊log2((c1+V) div (c12+1))⌋
    // via the float-free length(bin(x))−1 — the ratio is ≥ 1 by
    // construction (c12 ≤ c1, V ≥ 1), unseen contexts degrade to
    // log2(V), and OOV bigrams are counted separately. Shape: the
    // count tables ARE the model — slim keyed aggregates; scoring is
    // two equi-joins of held-out gram occurrences against them (the
    // gram, not the text, is the join key) + one per-source rollup.
    // At 100 TB the model tables persist once and every eval probes
    // them — same algebra.
    QueryDef(
      "q265_bigram_lm_heldout",
      (s, dir) => {
        bitsReport(heldoutBigramBits(s, dir), "bits")
      },
      Some(bigramLmOracle))
  ,

    // --------------------------------------------------------------- q267
    // INCREMENTAL inverted-index maintenance — q261's sibling for the
    // index: a delta batch (q107/q261's ingest construction — edited
    // re-crawls + novel docs, all NEW doc_ids) merges into the standing
    // per-term index WITHOUT re-scanning the corpus. Because delta ids
    // are disjoint, the merge is purely ADDITIVE index algebra:
    // untouched terms carry over by one LEFT ANTI join, touched terms
    // add their delta (df, id-sum) postings-summary — per-tick cost is
    // O(|delta postings|), never O(corpus). (Deletes would need
    // tombstones — out of scope, stated.) The index keys on word
    // 3-GRAMS (the phrase-index q240 probes — and a key domain sparse
    // enough that most standing entries are genuinely untouched; the
    // fixture's unigram vocabulary is so small every word would be
    // touched). The oracle is a FULL rebuild
    // over corpus+delta, so a term the incremental path dropped,
    // double-counted, or failed to touch cannot hash-match. Output:
    // top-20 merged terms by df with the touched/untouched audit
    // riding every row as single-row broadcast scalars.
    QueryDef(
      "q267_incremental_index_maintenance",
      (s, dir) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val d = Tables(s, dir, "documents").select("doc_id", "text")
        val standing = postings(d).persist(MEMORY_AND_DISK)
        // the delta batch: q107's ingest construction
        val deltaIdx = postings(Dedup.ingestBatch(d)).persist(MEMORY_AND_DISK)
        mergeIndex(standing, deltaIdx)
      },
      Some(incrementalIndexOracle))
  ,

    // --------------------------------------------------------------- q269
    // Vocabulary COVERAGE CURVE — the vocab-size decision input a
    // tokenizer build (q145/q254) keys on: for k = 10, 20, …, 100, what
    // fraction of the corpus token mass does the top-k vocabulary
    // cover? The curve's knee is where growing the vocab stops paying.
    // Shape: the frequency table is one keyed aggregate; top-100
    // arrives via TakeOrderedAndProject (distributed top-k — the
    // corpus-wide sort never happens); the cumulative sum runs on the
    // BOUNDED 100-row frame only (the q236 bounded-window precedent),
    // and the total rides a single-row broadcast. Ties broken by token
    // string so the curve is engine-reproducible.
    QueryDef(
      "q269_vocab_coverage_curve",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val freq = Tables(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy("w").agg(count(lit(1)).as("f"))
        val tot = freq.agg(sum("f").as("t"))
        val ord = Window.orderBy(col("f").desc, col("w")) // ≤ 100 rows (limit(100) upstream)
        freq.orderBy(col("f").desc, col("w")).limit(100)
          .withColumn("rnk", row_number().over(ord).cast("long"))
          .withColumn("cum", sum("f").over(
            ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter(col("rnk") % 10 === 0)
          .crossJoin(broadcast(tot))
          .select(col("rnk").as("k"), col("cum").as("cum_tokens"),
            expr("cum * 1000000 div t").as("coverage_ppm"))
          .orderBy("k")
      },
      Some("""
        WITH freq AS MATERIALIZED (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS f
          FROM (SELECT unnest(string_split(text, ' ')) AS w
                FROM documents) t
          WHERE w <> ''
          GROUP BY w),
        tot AS (SELECT CAST(SUM(f) AS BIGINT) AS t FROM freq),
        top AS (SELECT w, f FROM freq ORDER BY f DESC, w LIMIT 100),
        rk AS (
          SELECT CAST(row_number() OVER (ORDER BY f DESC, w) AS BIGINT)
                   AS rnk,
                 CAST(SUM(f) OVER (ORDER BY f DESC, w
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM top)
        SELECT rnk AS k, cum AS cum_tokens,
               cum * 1000000 // t AS coverage_ppm
        FROM rk CROSS JOIN tot
        WHERE rnk % 10 = 0
        ORDER BY k"""))
  ,

    // --------------------------------------------------------------- q271
    // HARD-NEGATIVE mining — the retrieval-training data-prep step
    // (contrastive/DPR-style training wants, per query, the top-scoring
    // NON-relevant candidate): over q263's shared per-(query, candidate)
    // BM25 scores, the hard negative is the best-scoring candidate that
    // is not the gold, and the (gold − hard) margin is the difficulty
    // signal — negative margin means the retriever currently ranks the
    // confuser ABOVE the right answer, exactly the pairs a trainer
    // upweights. Window-free argmax both engines: MAX(score) per query,
    // join back, MIN(doc_id) among the tied best (deterministic; DuckDB
    // arg_max leaves ties unspecified — stated). Scores persist once
    // and are shared with q263 (the PairGraph discipline).
    QueryDef(
      "q271_hard_negative_mining",
      (s, dir) => {
        val qd = retrievalScores(s, dir)
        val cand = qd.filter(col("query_id") =!= col("doc_id"))
        val ms = cand.groupBy("query_id").agg(max("score").as("best"))
        val hard = cand.join(ms, "query_id")
          .filter(col("score") === col("best"))
          .groupBy("query_id")
          .agg(min("doc_id").as("hard_neg_id"), max("score").as("hard_score"))
        val gold = qd.filter(col("query_id") === col("doc_id"))
          .select(col("query_id"), col("score").as("gold_score"))
        hard.join(gold, "query_id")
          .select(col("query_id"), col("hard_neg_id"), col("hard_score"),
            col("gold_score"),
            (col("gold_score") - col("hard_score")).as("margin"))
          .orderBy("query_id")
      },
      Some(s"""
        WITH $duckRetrievalCtes,
        cand AS (SELECT * FROM qd WHERE doc_id <> query_id),
        ms AS (SELECT query_id, MAX(score) AS best
               FROM cand GROUP BY query_id),
        hard AS (
          SELECT cand.query_id, MIN(doc_id) AS hard_neg_id,
                 MAX(score) AS hard_score
          FROM cand JOIN ms ON cand.query_id = ms.query_id
                           AND cand.score = ms.best
          GROUP BY cand.query_id),
        gold AS (SELECT query_id, score AS gold_score
                 FROM qd WHERE query_id = doc_id)
        SELECT query_id, hard_neg_id, hard_score, gold_score,
               gold_score - hard_score AS margin
        FROM hard JOIN gold USING (query_id)
        ORDER BY query_id"""))
  ,

    // --------------------------------------------------------------- q281
    // Tokenizer VOCABULARY-TRUNCATION curve — the merges-budget
    // ablation a tokenizer team publishes before freezing vocab size:
    // for every truncation level m = 0..6, encode the corpus with only
    // the FIRST m learned merges (BPE merge tables are rank-ordered, so
    // a smaller vocab IS a prefix of the table — no re-learning) and
    // report total tokens, compression vs characters, and the marginal
    // tokens SAVED by each additional merge round. The curve's knee is
    // the decision input: when saved_vs_prev flattens, further vocab
    // buys nothing. Artifacts come from the session-shared BPE registry
    // (one corpus explode + one 6-round learn per run — q254/s38/q276/
    // q281); the 7 encodings are literal sentinel replaces computed in
    // ONE codegen'd projection over the shared frame, collapsed by a
    // single aggregate — the driver sees one 7-level row, then a
    // 7-row-bounded stack + lag. At 100 TB: same one corpus pass; the
    // curve is metadata-sized arithmetic after it.
    QueryDef(
      "q281_vocab_truncation_curve",
      (s, dir) => {
        val words = bpeWordsShared(s, dir)
        val merges = bpeMerges(s, dir)
        val levelCols = (0 to 6).map { m =>
          size(split(call_function("btrim",
            bpeApply(col("s0"), merges.take(m)), lit("|")), "\\|\\|"))
            .cast("long").as(s"t$m")
        }
        val tot = words.select(levelCols :+ col("nchar").as("nc"): _*)
          .agg(sum(col("t0")).as("t0"), (1 to 6).map(m =>
            sum(col(s"t$m")).as(s"t$m")) :+ sum(col("nc")).as("nc"): _*)
        val stacked = tot.selectExpr(
          "stack(7, 0L, t0, 1L, t1, 2L, t2, 3L, t3, 4L, t4, 5L, t5, 6L, t6) " +
            "AS (merge_rounds, n_tokens)",
          "nc AS n_chars")
        val w = org.apache.spark.sql.expressions.Window.orderBy("merge_rounds") // ≤ 7 rows (stacked merge rounds)
        stacked
          .withColumn("tokens_per_kchar", expr("n_tokens * 1000 div n_chars"))
          .withColumn("saved_vs_prev",
            coalesce(lag("n_tokens", 1).over(w) - col("n_tokens"), lit(0L)))
          .orderBy("merge_rounds")
      },
      Some(s"""
        WITH w0 AS MATERIALIZED (
          SELECT doc_id, source, CAST(length(w) AS BIGINT) AS nchar,
                 regexp_replace(w, '(.)', '$bpePipeRepl', 'g') AS s
          FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
                FROM documents)
          WHERE w <> ''),$bpeRoundCtes
        lv AS (${(0 to 6).map { m =>
          s"""
          SELECT CAST($m AS BIGINT) AS merge_rounds,
                 CAST(SUM(len(string_split(trim(s, '$bpePipe'),
                   '$bpePipe$bpePipe'))) AS BIGINT) AS n_tokens,
                 CAST(SUM(nchar) AS BIGINT) AS n_chars
          FROM w$m"""
        }.mkString(" UNION ALL ")})
        SELECT merge_rounds, n_tokens, n_chars,
               n_tokens * 1000 // n_chars AS tokens_per_kchar,
               CAST(COALESCE(lag(n_tokens) OVER (ORDER BY merge_rounds)
                 - n_tokens, 0) AS BIGINT) AS saved_vs_prev
        FROM lv
        ORDER BY merge_rounds"""))
  ,

    // --------------------------------------------------------------- q289
    // Inter-source DISTRIBUTIONAL divergence — the frequency-weighted
    // sibling of q185's vocabulary-overlap Jaccard: two sources can
    // share every word yet use them at wildly different rates, and
    // mixture design (q67/q86/q257) cares about the RATES. Each
    // source's word distribution is restricted to the top-100 global
    // vocabulary (the bounded grid discipline — q270's device), made
    // dense (explicit zeros, so a missing word contributes its full
    // |p − 0| mass), normalized to grid-ppm, and every unordered
    // source pair reports Σ|p_a − p_b| — total-variation ×2 in ppm,
    // the "which sources are textually interchangeable" matrix.
    // Shape: one corpus token count, a 100-row broadcast grid, a
    // sources×100 bounded dense frame, and a per-word self-join whose
    // fan-out is sources² × 100 — bounded at every SF; the corpus is
    // touched exactly once.
    QueryDef(
      "q289_source_divergence_matrix",
      (s, dir) => {
        val tok = Tables(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
          .groupBy("source", "word").agg(count(lit(1)).as("c"))
        val cached = tok.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val grid = cached.groupBy("word").agg(sum("c").as("tc"))
          .orderBy(col("tc").desc, col("word")).limit(100).select("word")
        val counts = cached.join(broadcast(grid), "word")
        val totals = counts.groupBy("source").agg(sum("c").as("t"))
        val dense = totals.select("source").crossJoin(broadcast(grid))
          .join(counts, Seq("source", "word"), "left")
          .join(totals, "source")
          .withColumn("p", expr("coalesce(c, 0L) * 1000000 div t"))
        val a = dense.select(col("source").as("source_a"), col("word"),
          col("p").as("pa"))
        val b = dense.select(col("source").as("source_b"), col("word"),
          col("p").as("pb"))
        a.join(b, Seq("word")).filter(col("source_a") < col("source_b"))
          .groupBy("source_a", "source_b")
          .agg(sum(abs(col("pa") - col("pb"))).as("l1_ppm"))
          .orderBy("source_a", "source_b")
      },
      Some("""
        WITH tok AS MATERIALIZED (
          SELECT source, w AS word, CAST(COUNT(*) AS BIGINT) AS c
          FROM (SELECT source, unnest(string_split(text, ' ')) AS w
                FROM documents) z
          WHERE w <> ''
          GROUP BY source, w),
        grid AS (
          SELECT word FROM (SELECT word, SUM(c) AS tc FROM tok GROUP BY word)
          ORDER BY tc DESC, word LIMIT 100),
        cnt AS (SELECT tok.* FROM tok JOIN grid USING (word)),
        tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t
                FROM cnt GROUP BY source),
        dense AS (
          SELECT s.source, g.word,
                 COALESCE(c.c, 0) * 1000000 // t.t AS p
          FROM (SELECT source FROM tot) s
          CROSS JOIN grid g
          LEFT JOIN cnt c ON c.source = s.source AND c.word = g.word
          JOIN tot t ON t.source = s.source)
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(SUM(abs(a.p - b.p)) AS BIGINT) AS l1_ppm
        FROM dense a JOIN dense b ON a.word = b.word
                                 AND a.source < b.source
        GROUP BY a.source, b.source
        ORDER BY source_a, source_b"""))
  ,

    // --------------------------------------------------------------- q291
    // VOCABULARY GROWTH curve (Heaps' law) — the is-more-data-still-
    // adding-diversity question a corpus owner asks before the next
    // crawl: simulate corpus growth as 8 deterministic increments
    // (doc_id % 8 as arrival buckets) and report, per increment, the
    // NEW vocabulary it contributes, the cumulative vocabulary and
    // token totals, and the new-words-per-million-tokens yield — the
    // declining rate IS Heaps' law, and where it flattens, more of the
    // same source buys no lexical diversity. The distributed trick:
    // instead of 8 separate distinct-counts over growing prefixes
    // (8 corpus passes), each word is attributed to its FIRST bucket
    // by one min() aggregate — ONE corpus pass, and the cumulative
    // curve is an 8-row bounded window over the attribution counts.
    QueryDef(
      "q291_vocab_growth_curve",
      (s, dir) => {
        // vocabulary at the word-BIGRAM grain: the fixture's unigram
        // vocabulary is tiny and saturates in the first increment (a
        // 1-row degenerate curve — measured); bigram types keep
        // growing, which is the regime Heaps' law describes
        val w = Tables(s, dir, "documents")
          .select((col("doc_id") % 8).cast("long").as("bkt"),
            explode(call_function("graft_word_ngrams", col("text"), lit(2)))
              .as("gram"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val firstBkt = w.groupBy("gram").agg(min("bkt").as("first_bkt"))
          .groupBy("first_bkt").agg(count(lit(1)).as("new_types"))
        val toks = w.groupBy(col("bkt").as("first_bkt"))
          .agg(count(lit(1)).as("toks"))
        val win = org.apache.spark.sql.expressions.Window.orderBy("first_bkt") // ≤ bucket-grid rows by construction
        toks.join(firstBkt, Seq("first_bkt"), "left")
          .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
          .withColumn("vocab_cum", sum("new_types").over(win))
          .withColumn("tokens_cum", sum("toks").over(win))
          .withColumn("new_per_mtok", expr("new_types * 1000000 div toks"))
          .select("first_bkt", "new_types", "toks", "vocab_cum",
            "tokens_cum", "new_per_mtok")
          .orderBy("first_bkt")
      },
      Some("""
        WITH w AS MATERIALIZED (
          SELECT doc_id % 8 AS bkt,
                 unnest(list_transform(range(1, len(ws)),
                   i -> ws[i] || ' ' || ws[i+1])) AS gram
          FROM (SELECT doc_id, string_split(text, ' ') AS ws
                FROM documents) z),
        fo AS (SELECT gram, CAST(MIN(bkt) AS BIGINT) AS first_bkt
               FROM w GROUP BY gram),
        nw AS (SELECT first_bkt, CAST(COUNT(*) AS BIGINT) AS new_types
               FROM fo GROUP BY first_bkt),
        tk AS (SELECT CAST(bkt AS BIGINT) AS first_bkt,
                      CAST(COUNT(*) AS BIGINT) AS toks
               FROM w GROUP BY bkt)
        SELECT tk.first_bkt AS first_bkt,
               COALESCE(new_types, 0) AS new_types, toks,
               CAST(SUM(COALESCE(new_types, 0))
                 OVER (ORDER BY tk.first_bkt) AS BIGINT) AS vocab_cum,
               CAST(SUM(toks) OVER (ORDER BY tk.first_bkt) AS BIGINT)
                 AS tokens_cum,
               COALESCE(new_types, 0) * 1000000 // toks AS new_per_mtok
        FROM tk LEFT JOIN nw USING (first_bkt)
        ORDER BY first_bkt"""))
  ,

    // --------------------------------------------------------------- q294
    // Boilerplate-segment removal accounting — the RefinedWeb/CCNet
    // line-level dedup step, phrased over this corpus's segment unit:
    // the fixture's documents are single-line word streams, so the
    // "line" becomes a non-overlapping 2-word segment (the fixture's
    // 31-word vocabulary makes 2-word segments the smallest unit that
    // actually recurs; a trailing odd word joins no segment — stated,
    // identical in both engines). A segment is BOILERPLATE when it
    // appears in ≥ 3 distinct documents of the SAME source — the
    // nav-bar/footer signature scoped per site, never cross-source
    // (cross-source recurrence is syndication, q228's job, not
    // boilerplate). The report prices the cleanup per source: segment
    // occurrences, boilerplate occurrences, distinct boilerplate
    // patterns, removed-text share in ppm. 100 TB shape: segments are
    // a narrow (source, seg, doc_id) explode — text never shuffles
    // whole; the boilerplate set is a keyed aggregate bounded by
    // vocab² × sources and BROADCASTS back to flag occurrences (at
    // general scale the segment would be digested first — here the
    // segment IS ≤ 2 short words, already smaller than its digest).
    QueryDef(
      "q294_boilerplate_removal",
      (s, dir) => {
        val segs = segments(Tables(s, dir, "documents"))
        boilerplateReport(
          segs.join(broadcast(boilerplateSet(segs)),
            Seq("source", "seg"), "left"))
      },
      Some(boilerplateOracle))
  ,

    // --------------------------------------------------------------- q306
    // Interpolated KNESER–NEY held-out eval — q265's add-one smoothing
    // upgraded to the smoothing that actually ships in n-gram LMs: the
    // lower-order weight is the CONTINUATION count (how many distinct
    // contexts a word follows — "Francisco" is frequent but predicts
    // poorly), not raw frequency. Same content-hash 4/5 train split
    // and whole-bit surprisal as q265, so the two reports diff
    // per-source into the smoothing's value. Exact integer pinning:
    // discount d = 3/4 enters as max(4·c12 − 3, 0)·250000 div c1 (the
    // ×4 lifts the fraction into integers before the ONE truncating
    // division), λ·p_cont composes two ppm terms with div 10⁶ in the
    // SAME order in both engines, unseen contexts back off to pure
    // continuation mass, and p floors at 1 ppm so the bit count is
    // always defined. Shape: the model is THREE slim keyed aggregates
    // off one persisted bigram table (counts, left-continuations,
    // right-continuations) + a types scalar; scoring is equi-joins of
    // held-out grams against them — the q265 probe discipline, same
    // cost profile at 100 TB.
    QueryDef(
      "q306_kneser_ney_heldout",
      (s, dir) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val d = Tables(s, dir, "documents").select("doc_id", "source", "text")
          .withColumn("hb5",
            expr("cast(conv(substr(md5(text), 1, 15), 16, 10) AS BIGINT) % 5"))
        val tb = bigramCounts(d.filter(col("hb5") =!= 0L))
          .withColumn("w2", element_at(split(col("gram"), " "), 2))
          .persist(MEMORY_AND_DISK)
        val c1 = tb.groupBy("w1")
          .agg(sum("c12").as("c1"), count(lit(1)).as("n1post"))
        val pre = tb.groupBy("w2").agg(count(lit(1)).as("n1pre"))
        val tt = tb.agg(count(lit(1)).as("t"))
        val probed = d.filter(col("hb5") === 0L)
          .select(col("source"),
            explode(call_function("graft_word_ngrams", col("text"), lit(2)))
              .as("gram"))
          .withColumn("w1", element_at(split(col("gram"), " "), 1))
          .withColumn("w2", element_at(split(col("gram"), " "), 2))
          .join(tb.select("gram", "c12"), Seq("gram"), "left")
          .join(c1, Seq("w1"), "left")
          .join(pre, Seq("w2"), "left")
          .crossJoin(broadcast(tt))
          .withColumn("c12n", coalesce(col("c12"), lit(0L)))
          .withColumn("c1n", coalesce(col("c1"), lit(0L)))
          .withColumn("npo", coalesce(col("n1post"), lit(0L)))
          .withColumn("npr", coalesce(col("n1pre"), lit(0L)))
          .withColumn("p_ppm", expr(
            """greatest(CASE WHEN c1n > 0
                 THEN greatest(4 * c12n - 3, 0L) * 250000 div c1n
                      + (3 * npo * 250000 div c1n)
                        * (npr * 1000000 div t) div 1000000
                 ELSE npr * 1000000 div t END, 1L)"""))
        bitsReport(probed.withColumn("bits",
          expr("length(bin(1000000 div p_ppm)) - 1")), "bits")
      },
      Some("""
        WITH doc5 AS (
          SELECT doc_id, source, text,
                 CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 5
                   AS hb5
          FROM documents),
        tb AS MATERIALIZED (
          SELECT gram, CAST(COUNT(*) AS BIGINT) AS c12,
                 string_split(gram, ' ')[1] AS w1,
                 string_split(gram, ' ')[2] AS w2
          FROM (SELECT unnest(list_transform(range(1, len(w)),
                  i -> w[i] || ' ' || w[i+1])) AS gram
                FROM (SELECT string_split(text, ' ') AS w
                      FROM doc5 WHERE hb5 <> 0) t) g
          GROUP BY gram),
        c1 AS MATERIALIZED (
          SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                 CAST(COUNT(*) AS BIGINT) AS n1post
          FROM tb GROUP BY w1),
        pre AS MATERIALIZED (
          SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1pre
          FROM tb GROUP BY w2),
        tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM tb),
        ho AS (
          SELECT source, gram,
                 string_split(gram, ' ')[1] AS w1,
                 string_split(gram, ' ')[2] AS w2
          FROM (SELECT source,
                       unnest(list_transform(range(1, len(w)),
                         i -> w[i] || ' ' || w[i+1])) AS gram
                FROM (SELECT source, string_split(text, ' ') AS w
                      FROM doc5 WHERE hb5 = 0) t) g),
        sc AS (
          SELECT ho.source,
                 COALESCE(tb.c12, 0) AS c12n,
                 COALESCE(c1.c1, 0) AS c1n,
                 COALESCE(c1.n1post, 0) AS npo,
                 COALESCE(pre.n1pre, 0) AS npr,
                 tt.t
          FROM ho
          LEFT JOIN tb ON ho.gram = tb.gram
          LEFT JOIN c1 ON ho.w1 = c1.w1
          LEFT JOIN pre ON ho.w2 = pre.w2
          CROSS JOIN tt),
        pb AS (
          SELECT source, c12n,
                 length(bin(1000000 // greatest(
                   CASE WHEN c1n > 0
                        THEN greatest(4 * c12n - 3, 0) * 250000 // c1n
                             + (3 * npo * 250000 // c1n)
                               * (npr * 1000000 // t) // 1000000
                        ELSE npr * 1000000 // t END, 1))) - 1 AS bits
          FROM sc)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(count_if(c12n = 0) AS BIGINT) AS oov_bigrams,
               CAST(SUM(bits) AS BIGINT) AS total_bits,
               CAST(SUM(bits) * 1000 // COUNT(*) AS BIGINT)
                 AS bits_per_token_milli
        FROM pb
        GROUP BY source
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q312
    // Good–Turing unseen-mass estimation — the "how much vocabulary am
    // I NOT seeing" profiler that closes the loop q291 (Heaps growth)
    // and q292 (sampling error) opened: the GT identity says the
    // probability mass of UNSEEN types ≈ N₁/N (singleton share), and
    // the smoothed count for once-seen types is r* = 2·N₂/N₁ — both
    // pure integer ratios of frequency-of-frequency counts, exact in
    // ppm/milli with single truncating divisions (nullif-guarded: a
    // source with no singletons has nothing to smooth). Reported per
    // source (word grain): token/type totals, N₁, N₂, unseen-mass ppm,
    // r* milli, and observed coverage — the number that says whether a
    // source's crawl is exhausted or has a long tail left to buy.
    // Shape: one (source, tok) keyed aggregate → one frequency-of-
    // frequency aggregate per source; nothing corpus-wide ever sorts.
    QueryDef(
      "q312_good_turing",
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(col("source"),
            explode(expr("filter(split(text, ' '), w -> w <> '')"))
              .as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("c"))
          .groupBy("source")
          .agg(sum("c").as("n_tokens"),
            count(lit(1)).as("n_types"),
            sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n1"),
            sum(when(col("c") === 2L, 1L).otherwise(0L)).as("n2"))
          .select(col("source"), col("n_tokens"), col("n_types"),
            col("n1"), col("n2"),
            expr("n1 * 1000000 div n_tokens").as("unseen_mass_ppm"),
            expr("2000 * n2 div nullif(n1, 0)").as("r1_star_milli"),
            expr("1000000 - n1 * 1000000 div n_tokens")
              .as("coverage_ppm"))
          .orderBy("source")
      },
      Some("""
        WITH tc AS (
          SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM (SELECT source,
                       unnest(list_filter(string_split(text, ' '),
                         w -> w <> '')) AS tok
                FROM documents)
          GROUP BY source, tok),
        ff AS (
          SELECT source,
                 CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(COUNT(*) AS BIGINT) AS n_types,
                 CAST(count_if(c = 1) AS BIGINT) AS n1,
                 CAST(count_if(c = 2) AS BIGINT) AS n2
          FROM tc GROUP BY source)
        SELECT source, n_tokens, n_types, n1, n2,
               CAST(n1 * 1000000 // n_tokens AS BIGINT)
                 AS unseen_mass_ppm,
               CAST(2000 * n2 // nullif(n1, 0) AS BIGINT)
                 AS r1_star_milli,
               CAST(1000000 - n1 * 1000000 // n_tokens AS BIGINT)
                 AS coverage_ppm
        FROM ff
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q322
    // Zipf rank–frequency slope, EXACTLY and WITHOUT a vocabulary-wide
    // window — the third leg of the corpus-law triptych next to Heaps
    // (q291) and Good–Turing (q312): on the log2–log2 plot of word rank
    // vs frequency, the slope is ≈ −(Zipf exponent) in bits per
    // doubling. The trap at scale is ranking the vocabulary (an unkeyed
    // row_number over every distinct word); instead ranks are derived
    // ARITHMETICALLY: group words by frequency (distinct-frequency-sized
    // frame — far smaller than the vocabulary), a cumulative count over
    // f DESC gives each group its rank interval (c0, c0+nw], and the
    // interval's overlap with each log2 bucket [2^b, 2^(b+1)) is pure
    // min/max arithmetic after a ≤64-way sequence explode. Per log2-rank
    // bucket: word count + mean floor-log2(frequency) in milli-bits
    // (floor-log2 = length(bin(x))−1, the q193 integer device); the
    // slope is the LOWER-MEDIAN of pairwise bucket slopes (the q300
    // Theil–Sen device — sign·(|Δ|·1000 div Δlr), truncating, operands
    // non-negative), robust to the flattened head and the hapax tail.
    // Output grain: one row per log2-rank bucket with the corpus slope
    // alongside. 100 TB shape: corpus → keyed vocab aggregate →
    // distinct-frequency aggregate; the only windows ride frames bounded
    // by distinct-frequency count and ≤64 buckets.
    QueryDef(
      "q322_zipf_rank_slope",
      (s, dir) => zipfRankSlope(
        Tables(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "")),
      Some(zipfRankSlopeOracle))
  ,

    // --------------------------------------------------------------- q323
    // PII detection / redaction accounting — the privacy gate every
    // training-data pipeline runs before anything else ships. Three
    // detector classes (emails, NANP-style 555 phone stubs, RFC-1918
    // 10.x IPv4s) scan each document; the report is per source: docs
    // flagged, matches per class, characters redacted (defined as
    // orig_len − len(sequential regexp_replace) so overlapping spans
    // can never double-count), and redacted-mass ppm. The fixture prose
    // carries no PII, so spans are PLANTED deterministically from
    // doc_id (same CASE arithmetic in the oracle) — both engines scan
    // the identical corpus and accidental natural matches, if any,
    // match identically. 100 TB shape: one stateless per-doc pass (all
    // regexes evaluated inside the row's codegen stage, no shuffle
    // before the ≤ sources-row rollup); the same per-doc half streams
    // at-ingest as s54. Patterns stay in the Java∩RE2 dialect subset so
    // Spark and DuckDB agree byte-for-byte.
    QueryDef(
      "q323_pii_redaction_audit",
      (s, dir) => piiReport(piiPerDoc(piiPlanted(
        Tables(s, dir, "documents")))),
      Some(piiOracle))
  ,

    // --------------------------------------------------------------- q324
    // Speculative-decoding acceptance model — the serving-cost twin of
    // q313's prefix cache: a 1-token greedy draft (each token proposes
    // the corpus-argmax next token) replayed over the corpus itself
    // gives the EXACT acceptance rate and accepted-run lengths that
    // bound speculative speedup for an n-gram draft head. Pipeline:
    // per-doc adjacent pairs (zip_with over aligned slices — the
    // codegen'd shingle device, never transform(sequence)), bigram
    // counts (keyed aggregate, map-side partials), argmax via
    // min(struct(-c, b)) per head token (deterministic tie-break:
    // highest count then lexicographic), accept flags by a token-keyed
    // join (big-big shuffle join on the head token — no broadcast
    // assumption at 100 TB), and run starts via a per-doc lag window
    // (frame bounded by document length). No vocabulary-wide unkeyed
    // window anywhere; the report is ≤ sources rows.
    QueryDef(
      "q324_speculative_acceptance",
      (s, dir) => {
        val pairs = specPairs(Tables(s, dir, "documents"))
        specAcceptReport(pairs.join(specDraft(pairs), "a")
          .withColumn("acc", when(col("b") === col("db"), 1L).otherwise(0L))
          .select("doc_id", "source", "pos", "acc"))
      },
      Some(specAcceptOracle))
  ,

    // --------------------------------------------------------------- q328
    // Code-vs-prose routing — the pretraining-router step that decides
    // which pipeline a crawled document enters (code corpora tokenize,
    // dedup and mix differently from prose): integer structural signals
    // only — symbol count via translate-stripping ({}();=) and a
    // 4-keyword token hit count — so the verdict is exact in both
    // engines (the fixture prose measures ZERO on both axes, verified
    // at design time, giving clean separation from the planted
    // synthetic snippets). Corpus = documents ∪ deterministic code
    // plants (doc_id % 17 == 4, same CASE arithmetic in the oracle).
    // Per-source routing report with DECIMAL(38)-widened char-mass ppm.
    // 100 TB shape: one stateless per-doc codegen projection → ≤
    // sources rollup; the identical per-doc half streams as s57.
    QueryDef(
      "q328_code_detection",
      (s, dir) => codeRouteReport(codePerDoc(codeCorpus(
        Tables(s, dir, "documents").select("doc_id", "source", "text")))),
      Some(codeRouteOracle))
  ,

    // --------------------------------------------------------------- q332
    // Nucleus (top-p) sampling coverage — the sampler-side audit next
    // to q324's speculative acceptance and q313's prefix cache: over
    // the corpus bigram LM, for every context token, how many distinct
    // continuations survive p = 0.9 nucleus truncation? A head whose
    // nucleus is 1 token is where greedy == nucleus (and where q324's
    // 1-token draft always lands); a fat nucleus is where sampling
    // diversity (and draft rejection) lives. Membership is exact
    // integer cross-multiplication — a continuation is IN the nucleus
    // iff the cumulative count STRICTLY BEFORE it (ordered count desc,
    // token asc — the q324 tie-break) is < 0.9 of the head's total,
    // i.e. (cum − c)·10 < total·9 — so the first continuation is
    // always a member and no float threshold exists in either engine.
    // Report grain: one row per nucleus size with head count, head
    // share, continuation fan-out and pair mass. 100 TB shape: pairs
    // from the zip_with shingle device, one keyed (a, b) aggregate,
    // windows keyed by head token and bounded by per-head fan-out;
    // the head total rides a broadcast single-row aggregate (the q325
    // device), never a global window over data rows.
    QueryDef(
      "q332_nucleus_coverage",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val counts = specPairs(Tables(s, dir, "documents"))
          .groupBy("a", "b").agg(count(lit(1)).as("c"))
        val wHead = Window.partitionBy("a")
        val wCum = Window.partitionBy("a").orderBy(col("c").desc, col("b"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val heads = counts
          .withColumn("ta", sum("c").over(wHead))
          .withColumn("cum", sum("c").over(wCum))
          .withColumn("member",
            (((col("cum") - col("c")) * 10) < col("ta") * 9).cast("long"))
          .groupBy("a")
          .agg(sum("member").as("nucleus_size"),
            count(lit(1)).as("fanout"), max("ta").as("ta"))
        val tot = heads.agg(count(lit(1)).as("th"))
        heads.groupBy("nucleus_size")
          .agg(count(lit(1)).as("n_heads"), sum("fanout").as("sum_fanout"),
            sum("ta").as("pair_mass"))
          .crossJoin(broadcast(tot))
          // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
          .withColumn("heads_ppm", expr(
            """CAST(CAST(n_heads AS DECIMAL(38,0)) * 1000000 div th
               AS BIGINT)"""))
          .select("nucleus_size", "n_heads", "heads_ppm", "sum_fanout",
            "pair_mass")
          .orderBy("nucleus_size")
      },
      Some("""
        WITH wl AS (
          SELECT doc_id, source,
                 list_filter(string_split(text, ' '), w -> w <> '') AS w
          FROM documents),
        pairs AS (
          SELECT w[t.i] AS a, w[t.i + 1] AS b
          FROM wl, UNNEST(range(1, len(w))) AS t(i)
          WHERE len(w) >= 2),
        counts AS (
          SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c
          FROM pairs GROUP BY a, b),
        cums AS (
          SELECT a, c,
                 SUM(c) OVER (PARTITION BY a) AS ta,
                 SUM(c) OVER (PARTITION BY a ORDER BY c DESC, b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
          FROM counts),
        heads AS (
          SELECT a,
                 CAST(SUM(CASE WHEN (cum - c) * 10 < ta * 9
                   THEN 1 ELSE 0 END) AS BIGINT) AS nucleus_size,
                 CAST(COUNT(*) AS BIGINT) AS fanout,
                 CAST(MAX(ta) AS BIGINT) AS ta
          FROM cums GROUP BY a),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS th FROM heads)
        SELECT nucleus_size, CAST(COUNT(*) AS BIGINT) AS n_heads,
               CAST(CAST(COUNT(*) AS HUGEINT) * 1000000 //
                 (SELECT CAST(th AS HUGEINT) FROM tot) AS BIGINT)
                 AS heads_ppm,
               CAST(SUM(fanout) AS BIGINT) AS sum_fanout,
               CAST(SUM(ta) AS BIGINT) AS pair_mass
        FROM heads
        GROUP BY nucleus_size
        ORDER BY nucleus_size"""))
  ,

    // --------------------------------------------------------------- q335
    // Secret / credential scanning — the code-corpus privacy gate
    // beside q323's prose PII pass (what detect-secrets runs before a
    // code corpus ships: committed cloud keys, raw SHA tokens, forge
    // PATs): three detector classes in the Java∩RE2 dialect subset —
    // AKIA-style cloud key ids, bare 40-hex tokens, ghp_-style forge
    // tokens — scan every document; chars-redacted is orig_len − len
    // after SEQUENTIAL replacement (the q323 device, overlap-proof).
    // The fixture prose carries no secrets, so three deterministic
    // plant families (doc_id % 19 == 2 / % 23 == 6 / % 29 == 9, md5-
    // derived so the token bodies are realistic hex) are appended with
    // the same arithmetic in both engines — detections equal plants
    // exactly, proven in the spec. 100 TB shape: one stateless per-doc
    // codegen pass (all regexes inside the row's stage), ≤ sources
    // rollup; the per-doc half streams at-ingest as s62 — the gate
    // that quarantines a leaked key the moment it lands.
    QueryDef(
      "q335_secret_scan",
      (s, dir) => secretReport(secretPerDoc(secretPlanted(
        Tables(s, dir, "documents").select("doc_id", "source", "text")))),
      Some(secretOracle))
  ,

    // --------------------------------------------------------------- q342
    // Depth-2 speculative chain acceptance — q324 extended one level:
    // the draft head proposes draft(a) AND, conditionally, draft(
    // draft(a)) — so a step can land 0, 1 or 2 tokens, and the
    // serving planner's real question is tokens-per-step under the
    // deeper draft, not the flat 1-token rate. Replayed exactly over
    // corpus trigrams: step accepts level 1 iff b = draft(a), level 2
    // iff additionally c = draft(b) (b = draft(a) there, so draft(b)
    // IS the chain's second proposal). Shares q324's pair frame and
    // argmax draft table verbatim; the second level is one more
    // token-keyed join, and trigram assembly is a (doc, pos) equi-join
    // of the pair frame with itself — no window at all. Report per
    // source: level-1/level-2 acceptance ppm and the exact expected
    // tokens-per-step in milli = (n + acc1 + acc2)·1000 / n, the
    // number that decides whether the second draft level pays for
    // itself. 100 TB shape: keyed joins only, DECIMAL(38) ↔ HUGEINT
    // on the ppm/milli products.
    QueryDef(
      "q342_speculative_tree_depth2",
      (s, dir) => specTreeReport(Tables(s, dir, "documents")),
      Some("""
        WITH wl AS (
          SELECT doc_id, source,
                 list_filter(string_split(text, ' '), w -> w <> '') AS w
          FROM documents),
        pr AS (
          SELECT doc_id, source,
                 unnest(list_transform(range(1, len(w)),
                   i -> {'pos': i - 1, 'a': w[i], 'b': w[i+1]})) AS p
          FROM wl WHERE len(w) >= 2),
        pairs AS (
          SELECT doc_id, source, p.pos AS pos, p.a AS a, p.b AS b FROM pr),
        bg AS (
          SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c
          FROM pairs GROUP BY a, b),
        draft AS (
          SELECT a, b AS db FROM (
            SELECT a, b,
                   row_number() OVER (PARTITION BY a ORDER BY c DESC, b)
                     AS rn
            FROM bg) WHERE rn = 1),
        tri AS (
          SELECT p.source, p.a, p.b, q.b AS c
          FROM pairs p JOIN pairs q
            ON p.doc_id = q.doc_id AND q.pos = p.pos + 1),
        fl AS (
          SELECT t.source,
                 CASE WHEN t.b = d1.db THEN 1 ELSE 0 END AS a1,
                 CASE WHEN t.b = d1.db AND t.c = d2.db THEN 1 ELSE 0 END
                   AS a2
          FROM tri t
          JOIN draft d1 ON t.a = d1.a
          JOIN draft d2 ON t.b = d2.a),
        rep AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_steps,
                 CAST(SUM(a1) AS BIGINT) AS acc1,
                 CAST(SUM(a2) AS BIGINT) AS acc2_chain
          FROM fl GROUP BY source)
        SELECT source, n_steps, acc1, acc2_chain,
               CAST(CAST(acc1 AS HUGEINT) * 1000000
                 // CAST(n_steps AS HUGEINT) AS BIGINT) AS acc1_ppm,
               CAST(CAST(acc2_chain AS HUGEINT) * 1000000
                 // CAST(n_steps AS HUGEINT) AS BIGINT) AS acc2_ppm,
               CAST(CAST(n_steps + acc1 + acc2_chain AS HUGEINT) * 1000
                 // CAST(n_steps AS HUGEINT) AS BIGINT)
                 AS toks_per_step_milli
        FROM rep
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q347
    // Tokenizer fertility / cost-parity audit — the multilingual
    // fairness number a tokenizer review publishes (a language whose
    // text costs 2× the subtokens per byte pays 2× the context and 2×
    // the serving bill): per language, subtokens-per-word fertility
    // (the q31 BPE-ish subtoken regex over whitespace words) and
    // bytes-per-subtoken, each in exact milli; parity_ppm anchors
    // every language's byte cost to English (the 2-column broadcast
    // anchor row — derived from already-truncated millis, so the
    // ratio is integer-exact cross-engine). 100 TB shape: one
    // stateless per-doc projection, one ≤ languages keyed rollup, a
    // single-row broadcast join; DECIMAL(38) ↔ HUGEINT on the
    // corpus-mass products.
    QueryDef(
      "q347_tokenizer_fertility",
      (s, dir) => {
        val per = Tables(s, dir, "documents")
          .select(col("lang"),
            expr("CAST(octet_length(text) AS BIGINT)").as("b"),
            expr("""CAST(size(filter(split(text, ' '), w -> w <> ''))
                    AS BIGINT)""").as("wt"),
            expr(s"""CAST(size(regexp_extract_all(text, '$SubtokenRe',
                     0)) AS BIGINT)""").as("st"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("b").as("bytes"),
            sum("wt").as("ws_tokens"), sum("st").as("subtokens"))
          // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
          .withColumn("fertility_milli", expr(
            """CAST(CAST(subtokens AS DECIMAL(38,0)) * 1000
               div nullif(ws_tokens, 0) AS BIGINT)"""))
          .withColumn("bytes_per_subtoken_milli", expr(
            """CAST(CAST(bytes AS DECIMAL(38,0)) * 1000
               div nullif(subtokens, 0) AS BIGINT)"""))
        per.crossJoin(broadcast(per.filter(col("lang") === "en")
            .select(col("bytes_per_subtoken_milli").as("en_bpt"))))
          .withColumn("parity_ppm", expr(
            """CAST(CAST(bytes_per_subtoken_milli AS DECIMAL(38,0))
               * 1000000 div nullif(en_bpt, 0) AS BIGINT)"""))
          .select("lang", "n_docs", "bytes", "ws_tokens", "subtokens",
            "fertility_milli", "bytes_per_subtoken_milli", "parity_ppm")
          .orderBy("lang")
      },
      Some(s"""
        WITH d AS (
          SELECT lang, CAST(strlen(text) AS BIGINT) AS b,
                 CAST(len(list_filter(string_split(text, ' '),
                   w -> w <> '')) AS BIGINT) AS wt,
                 CAST(len(regexp_extract_all(text, '$SubtokenRe'))
                   AS BIGINT) AS st
          FROM documents),
        per AS (
          SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(b) AS BIGINT) AS bytes,
                 CAST(SUM(wt) AS BIGINT) AS ws_tokens,
                 CAST(SUM(st) AS BIGINT) AS subtokens,
                 CAST(CAST(SUM(st) AS HUGEINT) * 1000
                   // nullif(CAST(SUM(wt) AS HUGEINT), 0) AS BIGINT)
                   AS fertility_milli,
                 CAST(CAST(SUM(b) AS HUGEINT) * 1000
                   // nullif(CAST(SUM(st) AS HUGEINT), 0) AS BIGINT)
                   AS bytes_per_subtoken_milli
          FROM d GROUP BY lang),
        en AS (SELECT bytes_per_subtoken_milli AS en_bpt FROM per
               WHERE lang = 'en')
        SELECT lang, n_docs, bytes, ws_tokens, subtokens,
               fertility_milli, bytes_per_subtoken_milli,
               CAST(CAST(bytes_per_subtoken_milli AS HUGEINT) * 1000000
                 // nullif(CAST(en_bpt AS HUGEINT), 0) AS BIGINT)
                 AS parity_ppm
        FROM per, en
        ORDER BY lang"""))
  )

  /** q328/s57 shared: corpus with deterministic synthetic-code plants
    * (every doc_id % 17 == 4 contributes one snippet under its source).
    * Mirrored verbatim in [[codeRouteOracle]]'s corpus CTE. */
  private[graft] def codeCorpus(docs: DataFrame): DataFrame =
    docs.unionByName(docs.filter(col("doc_id") % 17 === 4)
      .select((col("doc_id") + 700000).as("doc_id"), col("source"),
        concat(lit("def fn"), col("doc_id").cast("string"),
          lit("(x) { if (x > "), (col("doc_id") % 13).cast("string"),
          lit(") { return x + "), (col("doc_id") % 97).cast("string"),
          lit("; } var y = fn"), col("doc_id").cast("string"),
          lit("("), (col("doc_id") % 7).cast("string"),
          lit("); }")).as("text")))

  /** q328/s57 shared per-doc half — stateless integer signals. */
  private[graft] def codePerDoc(docs: DataFrame): DataFrame =
    docs.select(col("source"),
      (length(col("text")) - length(translate(col("text"), "{}();=", "")))
        .cast("long").as("sym"),
      expr("""CAST(size(filter(split(text, ' '),
              w -> w IN ('def', 'return', 'var', 'if'))) AS BIGINT)""")
        .as("kw"),
      length(col("text")).cast("long").as("nc"))
      .withColumn("is_code",
        (col("sym") >= 5 && col("kw") >= 2).cast("long"))

  /** q328/s57 shared rollup half: per-source routing report. */
  private[graft] def codeRouteReport(perDoc: DataFrame): DataFrame =
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("is_code").as("n_code"),
        expr("sum(is_code) * 1000000 div count(1)").as("code_doc_ppm"),
        // DECIMAL(38) ↔ HUGEINT: corpus char mass × 1e6 wraps int64
        expr("""CAST(CAST(sum(CASE WHEN is_code = 1 THEN nc ELSE 0 END)
                  AS DECIMAL(38,0)) * 1000000
                div nullif(sum(nc), 0) AS BIGINT)""").as("code_char_ppm"))
      .orderBy("source")

  /** q328's oracle, shared VERBATIM by s57. */
  private[graft] def codeRouteOracle: String = """
        WITH corpus AS (
          SELECT doc_id, source, text FROM documents
          UNION ALL
          SELECT doc_id + 700000, source,
                 'def fn' || doc_id || '(x) { if (x > ' ||
                 (doc_id % 13) || ') { return x + ' || (doc_id % 97) ||
                 '; } var y = fn' || doc_id || '(' || (doc_id % 7) ||
                 '); }'
          FROM documents WHERE doc_id % 17 = 4),
        d AS (
          SELECT source,
                 CAST(len(text) - len(translate(text, '{}();=', ''))
                   AS BIGINT) AS sym,
                 CAST(len(list_filter(string_split(text, ' '),
                   w -> w IN ('def', 'return', 'var', 'if'))) AS BIGINT)
                   AS kw,
                 CAST(len(text) AS BIGINT) AS nc
          FROM corpus),
        f AS (
          SELECT source, nc,
                 CASE WHEN sym >= 5 AND kw >= 2 THEN 1 ELSE 0 END AS is_code
          FROM d)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(is_code) AS BIGINT) AS n_code,
               CAST(CAST(SUM(is_code) AS BIGINT) * 1000000 // COUNT(*)
                 AS BIGINT) AS code_doc_ppm,
               CAST(CAST(SUM(CASE WHEN is_code = 1 THEN nc ELSE 0 END)
                   AS HUGEINT) * 1000000
                 // nullif(CAST(SUM(nc) AS HUGEINT), 0) AS BIGINT)
                 AS code_char_ppm
        FROM f
        GROUP BY source
        ORDER BY source"""

  /** q324/s55 shared: the 1-token greedy draft table — corpus-argmax
    * next token per head token, deterministic tie-break (highest count,
    * then lexicographic) via min(struct(-c, b)). Vocabulary-keyed. */
  /** q342 shared body over any (doc_id, source, text) corpus —
    * factored so the chain-recurrence law spec can drive it with the
    * exhaustive 125-trigram alphabet plus a structured corpus and
    * compare against a plain-Scala simulator. */
  private[graft] def specTreeReport(docs: DataFrame): DataFrame = {
    val pairs = specPairs(docs)
    val draft = specDraft(pairs)
    val tri = pairs
      .join(pairs.select(col("doc_id").as("d2"),
          (col("pos") - 1).as("p2"), col("b").as("c")),
        col("doc_id") === col("d2") && col("pos") === col("p2"))
      .select(col("source"), col("a"), col("b"), col("c"))
    tri
      .join(draft.select(col("a").as("da"), col("db").as("d1")),
        col("a") === col("da"))
      .join(draft.select(col("a").as("dbh"), col("db").as("dx")),
        col("b") === col("dbh"))
      .withColumn("a1", (col("b") === col("d1")).cast("long"))
      .withColumn("a2",
        (col("a1") === 1 && col("c") === col("dx")).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_steps"), sum("a1").as("acc1"),
        sum("a2").as("acc2_chain"))
      // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
      .withColumn("acc1_ppm", expr(
        """CAST(CAST(acc1 AS DECIMAL(38,0)) * 1000000 div n_steps
           AS BIGINT)"""))
      .withColumn("acc2_ppm", expr(
        """CAST(CAST(acc2_chain AS DECIMAL(38,0)) * 1000000
           div n_steps AS BIGINT)"""))
      .withColumn("toks_per_step_milli", expr(
        """CAST(CAST(n_steps + acc1 + acc2_chain AS DECIMAL(38,0))
           * 1000 div n_steps AS BIGINT)"""))
      .select("source", "n_steps", "acc1", "acc2_chain", "acc1_ppm",
        "acc2_ppm", "toks_per_step_milli")
      .orderBy("source")
  }

  private[graft] def specDraft(pairs: DataFrame): DataFrame =
    pairs.groupBy("a", "b").agg(count(lit(1)).as("c"))
      .withColumn("pick", struct((-col("c")).as("nc"), col("b")))
      .groupBy("a").agg(min("pick").as("m"))
      .select(col("a"), col("m.b").as("db"))

  /** q324/s55 shared rollup half: accept flags → per-doc run starts
    * (lag window, frame bounded by document length) → per-source
    * acceptance report. */
  private[graft] def specAcceptReport(fl: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    fl.withColumn("rstart",
        when(col("acc") === 1 &&
          coalesce(lag(col("acc"), 1).over(wDoc), lit(0L)) === 0, 1L)
          .otherwise(0L))
      .groupBy("source")
      .agg(count(lit(1)).as("n_pairs"),
        sum("acc").as("n_accept"),
        // DECIMAL(38) ↔ HUGEINT: ~1e13 pairs × 1e6 wraps int64
        expr("""CAST(CAST(sum(acc) AS DECIMAL(38,0)) * 1000000
                div count(1) AS BIGINT)""").as("acceptance_ppm"),
        sum("rstart").as("n_runs"),
        expr("sum(acc) * 1000 div nullif(sum(rstart), 0)")
          .as("mean_run_milli"))
      .orderBy("source")
  }

  /** q323/s54 shared: deterministic PII plants from doc_id (the fixture
    * prose has none). Mirrored verbatim in [[piiOracle]]'s corpus CTE. */
  private[graft] def piiPlanted(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      concat(col("text"),
        when(col("doc_id") % 7 === 3,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 5,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 7,
          concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
            lit("."), (expr("doc_id div 256") % 256).cast("string"),
            lit("."), (col("doc_id") % 250 + 1).cast("string")))
          .otherwise(lit(""))).as("text"))

  private[graft] val piiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val piiPhoneRe = "\\b555-[0-9]{4}\\b"
  private[graft] val piiIpRe = "\\b10\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** q323/s54 shared per-doc half — stateless, one row in, one row out,
    * every regex inside the row's codegen stage. */
  private[graft] def piiPerDoc(planted: DataFrame): DataFrame =
    planted.select(col("source"),
      size(regexp_extract_all(col("text"), lit(piiEmailRe), lit(0)))
        .cast("long").as("e"),
      size(regexp_extract_all(col("text"), lit(piiPhoneRe), lit(0)))
        .cast("long").as("p"),
      size(regexp_extract_all(col("text"), lit(piiIpRe), lit(0)))
        .cast("long").as("i"),
      length(col("text")).cast("long").as("len0"),
      length(regexp_replace(regexp_replace(regexp_replace(col("text"),
        piiEmailRe, ""), piiPhoneRe, ""), piiIpRe, ""))
        .cast("long").as("len1"))

  /** q323/s54 shared rollup half: per-source privacy report. */
  private[graft] def piiReport(perDoc: DataFrame): DataFrame =
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("e") + col("p") + col("i") > 0, 1L).otherwise(0L))
          .as("docs_flagged"),
        sum("e").as("n_emails"), sum("p").as("n_phones"),
        sum("i").as("n_ips"),
        sum(col("len0") - col("len1")).as("pii_chars"),
        // DECIMAL(38) widening ↔ the oracle's HUGEINT: at ~1e13 corpus
        // chars the bare int64 product wraps (the q319 ADVICE class)
        expr("""CAST(CAST(sum(len0 - len1) AS DECIMAL(38,0)) * 1000000
                div nullif(sum(len0), 0) AS BIGINT)""").as("pii_ppm"))
      .orderBy("source")

  /** q323's oracle, shared VERBATIM by s54. DuckDB regexp_replace needs
    * the explicit 'g' flag (Spark replaces all matches by default). */
  private[graft] def piiOracle: String = """
        WITH corpus AS (
          SELECT doc_id, source,
                 text ||
                 CASE WHEN doc_id % 7 = 3
                      THEN ' contact user' || doc_id || '@example.com'
                      ELSE '' END ||
                 CASE WHEN doc_id % 11 = 5
                      THEN ' call 555-' ||
                           lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END ||
                 CASE WHEN doc_id % 13 = 7
                      THEN ' from 10.' || (doc_id % 256) || '.' ||
                           ((doc_id // 256) % 256) || '.' ||
                           (doc_id % 250 + 1)
                      ELSE '' END AS text
          FROM documents),
        d AS (
          SELECT source,
                 len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS e,
                 len(regexp_extract_all(text, '\b555-[0-9]{4}\b')) AS p,
                 len(regexp_extract_all(text,
                   '\b10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS i,
                 len(text) AS len0,
                 len(regexp_replace(regexp_replace(regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '', 'g'),
                   '\b555-[0-9]{4}\b', '', 'g'),
                   '\b10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '', 'g'))
                   AS len1
          FROM corpus)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(count_if(e + p + i > 0) AS BIGINT) AS docs_flagged,
               CAST(SUM(e) AS BIGINT) AS n_emails,
               CAST(SUM(p) AS BIGINT) AS n_phones,
               CAST(SUM(i) AS BIGINT) AS n_ips,
               CAST(SUM(len0 - len1) AS BIGINT) AS pii_chars,
               CAST(CAST(SUM(len0 - len1) AS HUGEINT) * 1000000
                 // nullif(CAST(SUM(len0) AS HUGEINT), 0) AS BIGINT)
                 AS pii_ppm
        FROM d
        GROUP BY source
        ORDER BY source"""

  /** q335/s62 shared: deterministic credential plants from doc_id —
    * md5-derived bodies so the hex tokens look real. Mirrored verbatim
    * in [[secretOracle]]'s corpus CTE. */
  private[graft] def secretPlanted(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      concat(col("text"),
        when(col("doc_id") % 19 === 2,
          concat(lit(" key AKIA"),
            lpad((col("doc_id") % 10000000).cast("string"), 16, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 23 === 6,
          concat(lit(" token "), md5(col("doc_id").cast("string")),
            substring(md5(concat(col("doc_id").cast("string"), lit("x"))),
              1, 8)))
          .otherwise(lit("")),
        when(col("doc_id") % 29 === 9,
          concat(lit(" ghp_"),
            md5(concat(col("doc_id").cast("string"), lit("g"))),
            substring(md5(concat(col("doc_id").cast("string"), lit("h"))),
              1, 4)))
          .otherwise(lit(""))).as("text"))

  private[graft] val secretAkRe = "\\bAKIA[A-Z0-9]{16}\\b"
  private[graft] val secretHexRe = "\\b[a-f0-9]{40}\\b"
  private[graft] val secretGhpRe = "\\bghp_[A-Za-z0-9]{36}\\b"

  /** q335/s62 shared per-doc half — stateless, every regex inside the
    * row's codegen stage (the q323 discipline). ghp_ bodies are 36
    * lowercase hex chars but can never double-count as 40-hex tokens:
    * the underscore is a word char, so no boundary splits ghp_ from
    * its body, and 36 ≠ 40. */
  private[graft] def secretPerDoc(planted: DataFrame): DataFrame =
    planted.select(col("source"),
      size(regexp_extract_all(col("text"), lit(secretAkRe), lit(0)))
        .cast("long").as("ak"),
      size(regexp_extract_all(col("text"), lit(secretHexRe), lit(0)))
        .cast("long").as("hx"),
      size(regexp_extract_all(col("text"), lit(secretGhpRe), lit(0)))
        .cast("long").as("gp"),
      length(col("text")).cast("long").as("len0"),
      length(regexp_replace(regexp_replace(regexp_replace(col("text"),
        secretAkRe, ""), secretHexRe, ""), secretGhpRe, ""))
        .cast("long").as("len1"))

  /** q335/s62 shared rollup half: per-source credential report. */
  private[graft] def secretReport(perDoc: DataFrame): DataFrame =
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ak") + col("hx") + col("gp") > 0, 1L).otherwise(0L))
          .as("docs_flagged"),
        sum("ak").as("n_cloud_keys"), sum("hx").as("n_hex_tokens"),
        sum("gp").as("n_forge_tokens"),
        sum(col("len0") - col("len1")).as("secret_chars"),
        // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
        expr("""CAST(CAST(sum(len0 - len1) AS DECIMAL(38,0)) * 1000000
                div nullif(sum(len0), 0) AS BIGINT)""").as("secret_ppm"))
      .orderBy("source")

  /** q335's oracle, shared VERBATIM by s62. */
  private[graft] def secretOracle: String = """
        WITH corpus AS (
          SELECT doc_id, source,
                 text ||
                 CASE WHEN doc_id % 19 = 2
                      THEN ' key AKIA' ||
                           lpad(CAST(doc_id % 10000000 AS VARCHAR), 16, '0')
                      ELSE '' END ||
                 CASE WHEN doc_id % 23 = 6
                      THEN ' token ' || md5(CAST(doc_id AS VARCHAR)) ||
                           substr(md5(CAST(doc_id AS VARCHAR) || 'x'), 1, 8)
                      ELSE '' END ||
                 CASE WHEN doc_id % 29 = 9
                      THEN ' ghp_' || md5(CAST(doc_id AS VARCHAR) || 'g') ||
                           substr(md5(CAST(doc_id AS VARCHAR) || 'h'), 1, 4)
                      ELSE '' END AS text
          FROM documents),
        d AS (
          SELECT source,
                 len(regexp_extract_all(text, '\bAKIA[A-Z0-9]{16}\b'))
                   AS ak,
                 len(regexp_extract_all(text, '\b[a-f0-9]{40}\b')) AS hx,
                 len(regexp_extract_all(text, '\bghp_[A-Za-z0-9]{36}\b'))
                   AS gp,
                 len(text) AS len0,
                 len(regexp_replace(regexp_replace(regexp_replace(text,
                   '\bAKIA[A-Z0-9]{16}\b', '', 'g'),
                   '\b[a-f0-9]{40}\b', '', 'g'),
                   '\bghp_[A-Za-z0-9]{36}\b', '', 'g')) AS len1
          FROM corpus)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(count_if(ak + hx + gp > 0) AS BIGINT) AS docs_flagged,
               CAST(SUM(ak) AS BIGINT) AS n_cloud_keys,
               CAST(SUM(hx) AS BIGINT) AS n_hex_tokens,
               CAST(SUM(gp) AS BIGINT) AS n_forge_tokens,
               CAST(SUM(len0 - len1) AS BIGINT) AS secret_chars,
               CAST(CAST(SUM(len0 - len1) AS HUGEINT) * 1000000
                 // nullif(CAST(SUM(len0) AS HUGEINT), 0) AS BIGINT)
                 AS secret_ppm
        FROM d
        GROUP BY source
        ORDER BY source"""

  /** q324/s55 shared per-doc half: positional adjacent token pairs via
    * zip_with over aligned slices (codegen'd; never the interpreted
    * transform(sequence) lambda — the r10 8× lesson). */
  private[graft] def specPairs(docs: DataFrame): DataFrame =
    docs
      .withColumn("wl", expr("filter(split(text, ' '), w -> w <> '')"))
      .filter(size(col("wl")) >= 2)
      .select(col("doc_id"), col("source"),
        posexplode(expr(
          """zip_with(slice(wl, 1, size(wl) - 1),
                      slice(wl, 2, size(wl) - 1),
                      (x, y) -> named_struct('a', x, 'b', y))"""))
          .as(Seq("pos", "pr")))
      .select(col("doc_id"), col("source"), col("pos").cast("long").as("pos"),
        col("pr.a").as("a"), col("pr.b").as("b"))

  /** q324's oracle, shared VERBATIM by s55 (the streamed probe must
    * reproduce the batch acceptance report exactly). */
  private[graft] def specAcceptOracle: String = """
        WITH wl AS (
          SELECT doc_id, source,
                 list_filter(string_split(text, ' '), w -> w <> '') AS w
          FROM documents),
        pr AS (
          SELECT doc_id, source,
                 unnest(list_transform(range(1, len(w)),
                   i -> {'pos': i - 1, 'a': w[i], 'b': w[i+1]})) AS p
          FROM wl WHERE len(w) >= 2),
        pairs AS (
          SELECT doc_id, source, p.pos AS pos, p.a AS a, p.b AS b FROM pr),
        bg AS (
          SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c
          FROM pairs GROUP BY a, b),
        draft AS (
          SELECT a, b AS db FROM (
            SELECT a, b,
                   row_number() OVER (PARTITION BY a ORDER BY c DESC, b) AS rn
            FROM bg) WHERE rn = 1),
        fl AS (
          SELECT p.doc_id, p.source, p.pos,
                 CASE WHEN p.b = d.db THEN 1 ELSE 0 END AS acc
          FROM pairs p JOIN draft d ON p.a = d.a),
        rs AS (
          SELECT doc_id, source, acc,
                 CASE WHEN acc = 1 AND coalesce(lag(acc) OVER (
                        PARTITION BY doc_id ORDER BY pos), 0) = 0
                      THEN 1 ELSE 0 END AS rstart
          FROM fl)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(acc) AS BIGINT) AS n_accept,
               CAST(CAST(SUM(acc) AS HUGEINT) * 1000000 // COUNT(*)
                 AS BIGINT) AS acceptance_ppm,
               CAST(SUM(rstart) AS BIGINT) AS n_runs,
               CAST(CAST(SUM(acc) AS BIGINT) * 1000
                 // nullif(CAST(SUM(rstart) AS BIGINT), 0)
                 AS BIGINT) AS mean_run_milli
        FROM rs
        GROUP BY source
        ORDER BY source"""

  /** q322's rollup half, shared VERBATIM by s53: token stream →
    * distinct-frequency rank algebra → log2-bucket curve + lower-median
    * Theil–Sen slope. See the q322 scaladoc for the algebra. */
  private[graft] def zipfRankSlope(tokens: DataFrame): DataFrame = {
        import org.apache.spark.sql.expressions.Window
        val freq = tokens.groupBy("w").agg(count(lit(1)).as("f"))
        val fgrp = freq.groupBy("f").agg(count(lit(1)).as("nw"))
        // cumulative over f DESC: distinct-frequency-sized by construction
        val wOrd = Window.orderBy(col("f").desc) // ≤ distinct frequencies
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val spans = fgrp
          .withColumn("chi", sum("nw").over(wOrd))
          .withColumn("c0", col("chi") - col("nw"))
          .withColumn("lf", expr("cast(length(bin(f)) - 1 AS BIGINT)"))
          .select(col("lf"), col("c0"), col("chi"),
            explode(expr("""sequence(length(bin(c0 + 1)) - 1,
                            length(bin(chi)) - 1)""")).as("b"))
          .withColumn("lo",
            expr("greatest(c0 + 1, shiftleft(cast(1 AS BIGINT), b))"))
          .withColumn("hi",
            expr("least(chi, shiftleft(cast(1 AS BIGINT), b + 1) - 1)"))
          .withColumn("n", col("hi") - col("lo") + lit(1L))
        // ≤64 bucket rows; checkpointed because the pair self-join and
        // the output both read it (the q300/q319 single-pass discipline)
        val buckets = spans.groupBy(col("b").cast("long").as("lr"))
          .agg(sum("n").as("n_words"),
            expr("sum(lf * n) * 1000 div sum(n)").as("mean_lf_milli"))
          .localCheckpoint(true)
        val p2 = buckets.select(col("lr").as("lr2"),
          col("mean_lf_milli").as("m2"))
        val wAll = Window.partitionBy() // ≤ 64² pairs by construction
        val slope = buckets.join(p2, col("lr") < col("lr2"))
          .select(col("lr"), col("lr2"),
            expr("""CASE WHEN m2 >= mean_lf_milli THEN 1L ELSE -1L END
                    * (abs(m2 - mean_lf_milli) * 1000
                       div (lr2 - lr))""").as("sl"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("sl"), col("lr"), col("lr2"))).cast("long")) // ≤ 64² pair rows
          .withColumn("np", count(lit(1)).over(wAll).cast("long"))
          .filter(col("rk") === expr("(np + 1) div 2"))
          .select(col("sl").as("slope_micro"), col("np").as("n_pairs"))
        // LEFT join on TRUE, not crossJoin (ADVICE r10): a degenerate
        // (≤1-bucket) corpus has no pairs, so `slope` is EMPTY — a cross
        // join would return zero rows while the oracle's scalar
        // subqueries yield one row with NULL slope. The left join emits
        // the bucket rows with NULL slope_micro/n_pairs, matching the
        // oracle on both the fixture and the degenerate corpus.
        buckets.join(broadcast(slope), lit(true), "left_outer")
          .select(col("lr"), col("n_words"), col("mean_lf_milli"),
            col("slope_micro"), col("n_pairs"))
          .orderBy("lr")
  }

  /** q322's oracle, shared VERBATIM by s53 (the at-ingest vocabulary
    * statistics must converge to the batch curve exactly). */
  private[graft] def zipfRankSlopeOracle: String = """
        WITH words AS (
          SELECT UNNEST(list_filter(string_split(text, ' '),
            w -> w <> '')) AS w
          FROM documents),
        freq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f
                 FROM words GROUP BY w),
        fgrp AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS nw
                 FROM freq GROUP BY f),
        spans AS (
          SELECT f, nw,
                 CAST(SUM(nw) OVER (ORDER BY f DESC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS chi
          FROM fgrp),
        sp2 AS (SELECT f, nw, chi, chi - nw AS c0,
                       CAST(length(bin(f)) - 1 AS BIGINT) AS lf
                FROM spans),
        cells AS (
          SELECT lf, CAST(b AS BIGINT) AS b,
                 least(chi, (CAST(1 AS BIGINT) << (b + 1)) - 1)
                   - greatest(c0 + 1, CAST(1 AS BIGINT) << b) + 1 AS n
          FROM sp2, UNNEST(range(length(bin(c0 + 1)) - 1,
                                 length(bin(chi)))) AS t(b)),
        buckets AS MATERIALIZED (
          SELECT b AS lr, CAST(SUM(n) AS BIGINT) AS n_words,
                 CAST(SUM(lf * n) AS BIGINT) * 1000
                   // CAST(SUM(n) AS BIGINT) AS mean_lf_milli
          FROM cells GROUP BY b),
        pairs AS (
          SELECT a.lr AS lr1, c.lr AS lr2,
                 (CASE WHEN c.mean_lf_milli >= a.mean_lf_milli
                       THEN 1 ELSE -1 END)
                 * (abs(c.mean_lf_milli - a.mean_lf_milli) * 1000
                    // (c.lr - a.lr)) AS sl
          FROM buckets a JOIN buckets c ON a.lr < c.lr),
        sl AS (
          SELECT sl AS slope_micro,
                 CAST(COUNT(*) OVER () AS BIGINT) AS n_pairs,
                 CAST(row_number() OVER (ORDER BY sl, lr1, lr2)
                   AS BIGINT) AS rk
          FROM pairs),
        slm AS (SELECT slope_micro, n_pairs FROM sl
                WHERE rk = (n_pairs + 1) // 2)
        SELECT lr, n_words, mean_lf_milli,
               (SELECT slope_micro FROM slm) AS slope_micro,
               (SELECT n_pairs FROM slm) AS n_pairs
        FROM buckets
        ORDER BY lr"""

  /** q294/s47 shared: the non-overlapping 2-word segment explode over
    * (doc_id, source, text) — one narrow projection, a trailing odd
    * word joins no segment. Shared CODE so the stream gate can never
    * drift from the batch segmentation. */
  private[graft] def segments(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        expr("filter(split(text, ' '), w -> w <> '')").as("wl"))
      .select(col("doc_id"), col("source"),
        explode(expr(
          """CASE WHEN size(wl) >= 2
             THEN transform(sequence(0, int(size(wl) div 2) - 1),
                    i -> array_join(slice(wl, i * 2 + 1, 2), ' '))
             ELSE array() END""")).as("seg"))

  /** q294/s47 shared: the boilerplate set — segments seen in ≥ 3
    * distinct docs of the SAME source; bounded by vocab² × sources,
    * the broadcast-able standing artifact of the cleanup. */
  private[graft] def boilerplateSet(segs: DataFrame): DataFrame =
    segs.groupBy("source", "seg")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 3L)
      .select(col("source"), col("seg"), lit(1L).as("is_bp"))

  /** q294/s47 shared rollup over flagged (doc_id, source, seg, is_bp)
    * occurrences → the per-source removal-accounting report. */
  private[graft] def boilerplateReport(flagged: DataFrame): DataFrame =
    flagged.groupBy("source")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_segs"),
        sum(coalesce(col("is_bp"), lit(0L))).as("bp_segs"),
        countDistinct(when(col("is_bp") === 1L, col("seg")))
          .as("bp_patterns"))
      .select(col("source"), col("n_docs"), col("n_segs"),
        col("bp_segs"), col("bp_patterns"),
        expr("bp_segs * 1000000 div n_segs").as("removed_ppm"))
      .orderBy("source")

  /** q254/s38 shared: the per-source token-cost report over per-doc
    * (source, nw, nt, nc) word, token and char counts. */
  private[graft] def tokenCostReport(perDoc: DataFrame): DataFrame =
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("nw").as("n_words"),
        sum("nt").as("n_tokens"),
        sum("nc").as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_tokens"), col("n_chars"),
        expr("n_tokens div n_docs").as("tokens_per_doc"),
        expr("n_tokens * 1000 div n_chars").as("tokens_per_kchar"))
      .orderBy("source")

  /** q254's oracle, shared VERBATIM by s38 (the streaming twin must
    * converge to the batch token-cost report exactly). */
  private[graft] def bpeOracle: String = s"""
        WITH w0 AS MATERIALIZED (
          SELECT doc_id, source, CAST(length(w) AS BIGINT) AS nchar,
                 regexp_replace(w, '(.)', '$bpePipeRepl', 'g') AS s
          FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
                FROM documents)
          WHERE w <> ''),$bpeRoundCtes
        tok AS (
          SELECT doc_id, source, nchar,
                 CAST(len(string_split(trim(s, '$bpePipe'), '$bpePipe$bpePipe'))
                   AS BIGINT) AS ntok
          FROM w6),
        d AS (SELECT doc_id, source,
                     CAST(COUNT(*) AS BIGINT) AS nw,
                     CAST(SUM(ntok) AS BIGINT) AS nt,
                     CAST(SUM(nchar) AS BIGINT) AS nc
              FROM tok GROUP BY doc_id, source)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(nw) AS BIGINT) AS n_words,
               CAST(SUM(nt) AS BIGINT) AS n_tokens,
               CAST(SUM(nc) AS BIGINT) AS n_chars,
               CAST(SUM(nt) AS BIGINT) // COUNT(*) AS tokens_per_doc,
               CAST(SUM(nt) AS BIGINT) * 1000 // CAST(SUM(nc) AS BIGINT)
                 AS tokens_per_kchar
        FROM d
        GROUP BY source
        ORDER BY source"""

  /** q276's oracle: q254's 6 unrolled BPE rounds produce per-doc token
    * costs, then q272's packing CTE chain runs on them (same algebra,
    * nt measured in learned-BPE tokens instead of words). */
  private[graft] def bpePackOracle: String = s"""
        WITH w0 AS MATERIALIZED (
          SELECT doc_id, source, CAST(length(w) AS BIGINT) AS nchar,
                 regexp_replace(w, '(.)', '$bpePipeRepl', 'g') AS s
          FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
                FROM documents)
          WHERE w <> ''),$bpeRoundCtes
        tok AS (
          SELECT doc_id, source,
                 CAST(len(string_split(trim(s, '$bpePipe'), '$bpePipe$bpePipe'))
                   AS BIGINT) AS ntok
          FROM w6),
        dd AS (SELECT doc_id, source, CAST(SUM(ntok) AS BIGINT) AS nt
               FROM tok GROUP BY doc_id, source),
        t AS (
          SELECT doc_id, source, nt,
                 LEAST(nt, 512) AS kept, nt - LEAST(nt, 512) AS ntr
          FROM dd WHERE nt > 0),
        b AS (
          SELECT *, CASE WHEN kept = 1 THEN CAST(1 AS BIGINT)
                         ELSE (CAST(1 AS BIGINT) << length(bin(kept - 1)))
                    END AS bucket
          FROM t),
        r AS (
          SELECT source, bucket, 512 // bucket AS cap,
                 CAST(row_number() OVER (PARTITION BY source, bucket
                   ORDER BY doc_id) AS BIGINT) AS rn
          FROM b),
        seqs AS (
          SELECT source, bucket, (rn - 1) // cap AS seq
          FROM r GROUP BY source, bucket, (rn - 1) // cap),
        ds AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(nt) AS BIGINT) AS tokens_total,
                 CAST(SUM(kept) AS BIGINT) AS tokens_kept,
                 CAST(SUM(ntr) AS BIGINT) AS tokens_trunc
          FROM t GROUP BY source),
        ss AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_seqs
               FROM seqs GROUP BY source)
        SELECT ds.source, n_docs, n_seqs, tokens_total, tokens_kept,
               tokens_trunc,
               n_seqs * 512 - tokens_kept AS tokens_pad,
               tokens_kept * 1000000 // (n_seqs * 512) AS util_ppm,
               tokens_trunc * 1000000 // tokens_total AS trunc_ppm
        FROM ds JOIN ss USING (source)
        ORDER BY ds.source"""

  /** '|' as a doc-safe sentinel (fixture corpus is pipe-free; the engine
    * side REQUIREs it per merge). Hoisted so the oracle template below
    * never starts a line with a pipe — SparkEntry strips oracle strings
    * through `.stripMargin`, which would eat it. */
  private def bpePipe = "|"
  private def bpePipeRepl = "|\\1|"

  /** Session-shared BPE artifacts (the PairGraph/ClassifierArtifacts
    * build-once discipline applied to the tokenizer): the exploded
    * per-word frame and the learned 6-round merges table are each built
    * at most once per (session, sfDir) and shared by q254/s38/q276 —
    * before this memo each consumer re-exploded the corpus AND re-ran
    * the 6 sequential merge-learning rounds (6 driver actions each). At
    * 100 TB the merges table is the offline tokenizer artifact every
    * job loads; relearning it per query is exactly the rebuild smell
    * VERDICT r7/r8 flagged for the pair graph and the gram frame.
    *
    * This one is the memoized [[bpeWords]] (eager localCheckpoint —
    * pinned across the query boundary, dies with the session). */
  private[graft] def bpeWordsShared(s: SparkSession, dir: String): DataFrame =
    SharedArtifact("bpe-words", s, dir) {
      bpeWords(s, dir).localCheckpoint(true)
    }

  /** Memoized 6-round merges table learned over [[bpeWordsShared]]. */
  private[graft] def bpeMerges(
      s: SparkSession, dir: String): Seq[(String, String)] =
    SharedArtifact("bpe-merges", s, dir) {
      learnBpeMerges(bpeWordsShared(s, dir))
    }

  /** Drop the memoized BPE artifacts and free their blocks (test
    * isolation hook). */
  private[graft] def bpeReset(): Unit =
    SharedArtifact.reset("bpe-words", "bpe-merges")

  /** q254/s38 shared: the exploded per-word frame
    * (doc_id, source, nchar, s0) with s0 the pipe-sentinel char string. */
  private[graft] def bpeWords(s: SparkSession, dir: String): DataFrame =
    // spread: single-row-group fixture scan = one task; the per-word
    // explode + per-char regex is this build's CPU (guide §2.5, r14)
    graft.Tables.spread(
        Tables(s, dir, "documents").select("doc_id", "source", "text"),
        col("doc_id"))
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .select(col("doc_id"), col("source"),
        length(col("w")).cast("long").as("nchar"),
        regexp_replace(col("w"), "(.)", "|$1|").as("s0"))

  /** Learns q254's bounded 6-round merges table from a (persisted)
    * [[bpeWords]] frame: each round recounts adjacent token pairs on the
    * partially-merged corpus via the graft_word_ngrams kernel and takes
    * the (freq desc, pair asc) top pair. The driver sees ONE row per
    * round — the merges table is metadata-sized by construction. */
  private[graft] def learnBpeMerges(words: DataFrame): Seq[(String, String)] = {
    var enc: org.apache.spark.sql.Column = col("s0")
    val merges = Seq.newBuilder[(String, String)]
    for (_ <- 1 to 6) {
      val spaced = call_function("btrim",
        call_function("replace", enc, lit("||"), lit(" ")), lit("|"))
      val top = words
        .select(explode(
          call_function("graft_word_ngrams", spaced, lit(2))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("pair"))
        .limit(1).collect() // bounded: limit(1)
      require(top.nonEmpty, "BPE merge round found no pairs")
      val Array(x, y) = top.head.getString(0).split(" ", 2)
      require(!x.contains("|") && !y.contains("|"),
        "corpus must be pipe-free for the sentinel representation")
      merges += ((x, y))
      enc = call_function("replace", enc, lit(s"|$x||$y|"), lit(s"|$x$y|"))
    }
    merges.result()
  }

  /** Applies a learned merges table to a pipe-sentinel token string:
    * one literal leftmost-non-overlapping replace per merge, in rank
    * order — identical semantics in Spark and DuckDB. */
  private[graft] def bpeApply(e0: org.apache.spark.sql.Column,
      merges: Seq[(String, String)]): org.apache.spark.sql.Column =
    merges.foldLeft(e0) { case (e, (x, y)) =>
      call_function("replace", e, lit(s"|$x||$y|"), lit(s"|$x$y|"))
    }

  /** Oracle CTE chain for q254's 6 unrolled BPE rounds: round r counts
    * adjacent token pairs on the round r-1 encoding, picks the top pair
    * (freq desc, pair asc — the engine's exact ordering), and applies it
    * with the same doubled-sentinel literal replace. */
  private def bpeRoundCtes: String = (1 to 6).map { r =>
    val prev = s"w${r - 1}"
    s"""
        p$r AS MATERIALIZED (
          SELECT unnest(list_transform(range(1, len(t)),
                   i -> t[i] ${"||"} ' ' ${"||"} t[i+1])) AS pair
          FROM (SELECT string_split(trim(s, '$bpePipe'),
                         '$bpePipe$bpePipe') AS t
                FROM $prev)),
        m$r AS MATERIALIZED (
          SELECT string_split(pair, ' ')[1] AS x, string_split(pair, ' ')[2] AS y
          FROM (SELECT pair, COUNT(*) AS c FROM p$r GROUP BY pair)
          ORDER BY c DESC, pair LIMIT 1),
        w$r AS MATERIALIZED (
          SELECT doc_id, source, nchar,
                 replace(s, '$bpePipe' ${"||"} (SELECT x FROM m$r) ${"||"}
                            '$bpePipe$bpePipe' ${"||"} (SELECT y FROM m$r) ${"||"}
                            '$bpePipe',
                            '$bpePipe' ${"||"} (SELECT x FROM m$r) ${"||"}
                            (SELECT y FROM m$r) ${"||"} '$bpePipe') AS s
          FROM $prev),"""
  }.mkString

  /** q267/s41 shared: the word-3-gram term index (term, df, sum_ids) of
    * `df` (doc_id, text). */
  private[graft] def postings(df: DataFrame): DataFrame =
    termIndex(df
      .select(col("doc_id"),
        explode(call_function("graft_word_ngrams", col("text"), lit(3)))
          .as("term"))
      .distinct())

  /** q267/s41 shared: distinct (term, doc_id) postings → (term, df,
    * sum_ids). */
  private[graft] def termIndex(p: DataFrame): DataFrame =
    p.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("doc_id").as("sum_ids"))

  /** q267/s41 shared: merge a delta index of disjoint new doc ids into
    * the standing index ADDITIVELY — untouched terms carry over by one
    * left anti join, touched terms add their delta — and report the
    * top-20 merged terms by df with the touched/untouched audit. */
  private[graft] def mergeIndex(standing: DataFrame,
      deltaIdx: DataFrame): DataFrame = {
    val untouched = standing
      .join(deltaIdx.select("term"), Seq("term"), "left_anti")
      .withColumn("was_touched", lit(false))
    val touched = standing
      .join(deltaIdx.select(col("term"), col("df").as("ddf"),
        col("sum_ids").as("dsum")), Seq("term"), "right")
      .select(col("term"),
        (coalesce(col("df"), lit(0L)) + col("ddf")).as("df"),
        (coalesce(col("sum_ids"), lit(0L)) + col("dsum")).as("sum_ids"))
      .withColumn("was_touched", lit(true))
    val merged = untouched.unionByName(touched)
    val audit = merged.agg(
      sum(when(col("was_touched"), 1L).otherwise(0L)).as("n_touched"),
      sum(when(!col("was_touched"), 1L).otherwise(0L)).as("n_untouched"))
    merged.crossJoin(broadcast(audit))
      .orderBy(col("df").desc, col("term"))
      .limit(20)
  }

  /** q267's oracle, shared VERBATIM by s41 (the streamed ticks must
    * merge into exactly the batch-maintained index). */
  private[graft] def incrementalIndexOracle: String = """
        WITH delta AS (
          SELECT doc_id + 500000 AS doc_id,
                 regexp_replace(text, ' \S+$', '') AS text
          FROM documents WHERE doc_id % 9 = 0
          UNION ALL
          SELECT doc_id + 600000,
                 'novel content batch item ' || CAST(doc_id AS VARCHAR)
          FROM documents WHERE doc_id % 9 = 1),
        allp AS (
          SELECT DISTINCT doc_id, term
          FROM (SELECT doc_id,
                       unnest(list_transform(range(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                         AS term
                FROM (SELECT doc_id, string_split(text, ' ') AS w
                      FROM (SELECT doc_id, text FROM documents
                            UNION ALL SELECT doc_id, text FROM delta) u)
                  t) t2),
        idx AS MATERIALIZED (
          SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
                 CAST(SUM(doc_id) AS BIGINT) AS sum_ids
          FROM allp GROUP BY term),
        dterms AS MATERIALIZED (
          SELECT DISTINCT term
          FROM (SELECT unnest(list_transform(range(1, len(w) - 1),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS term
                FROM (SELECT string_split(text, ' ') AS w FROM delta) t) t2),
        marked AS (
          SELECT idx.*, term IN (SELECT term FROM dterms) AS was_touched
          FROM idx),
        aud AS (
          SELECT CAST(count_if(was_touched) AS BIGINT) AS n_touched,
                 CAST(count_if(NOT was_touched) AS BIGINT) AS n_untouched
          FROM marked)
        SELECT term, df, sum_ids, was_touched, n_touched, n_untouched
        FROM marked CROSS JOIN aud
        ORDER BY df DESC, term
        LIMIT 20"""

  /** q263/q271's shared per-(query, candidate) retrieval scorer: the
    * deterministic self-retrieval query set (every 97th doc queries its
    * own words 6–8) scored with q243's exact-integer BM25 against the
    * probe-bounded candidate set. Returns (query_id, doc_id, score).
    *
    * MEMOIZED per (session, sfDir) via eager localCheckpoint (VERDICT
    * r8 item 4 — the scaladoc used to CLAIM "persisted once per run"
    * while each consumer rebuilt it; now the claim is true, same
    * mechanics as every [[SharedArtifact]] registry): q263 and q271
    * genuinely share one scorer build per session, and the build is
    * timed in [[SharedBuilds]] for the spec and the bench line. At
    * 100 TB this is the persisted score index an eval harness derives
    * MRR and hard negatives from without re-running BM25. */
  private[graft] def retrievalScores(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    SharedArtifact("bm25", s, dir) {
      buildRetrievalScores(s, dir).localCheckpoint(true)
    }

  /** Drop the memoized scorer and free its blocks (test isolation hook). */
  private[graft] def retrievalReset(): Unit = SharedArtifact.reset("bm25")

  private def buildRetrievalScores(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // spread: single-row-group fixture scan = one task for the word
    // explode below (guide §2.5, r14)
    val d = graft.Tables.spread(
      Tables(s, dir, "documents").select("doc_id", "text"), col("doc_id"))
    val qs = d.filter(col("doc_id") % 97 === 3)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(expr("slice(split(text, ' '), 6, 3)")))
          .as("word"))
      .persist(MEMORY_AND_DISK)
    val words = d
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .persist(MEMORY_AND_DISK)
    val dl = words.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      expr("sum(dl) * 1000 div count(1)").as("avg_m"))
    val tf = words.join(broadcast(qs.select("word").distinct()), "word")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val termScore = tf
      .join(broadcast(df.crossJoin(stats)
        .withColumn("idf_bits", expr("length(bin(n_docs div df)) - 1"))),
        "word")
      .join(dl, "doc_id")
      .withColumn("norm_m",
        expr("250 + 750 * (dl * 1000000 div avg_m) div 1000"))
      .withColumn("s_t", expr(
        """idf_bits * (tf * 2200 * 1000 div
             (tf * 1000 + 1200 * norm_m div 1000))"""))
    // no persist here: the caller localCheckpoints the result (memo)
    qs.join(termScore.select("word", "doc_id", "s_t"), "word")
      .groupBy("query_id", "doc_id")
      .agg(sum("s_t").as("score"))
  }

  /** The DuckDB CTE chain matching [[retrievalScores]] (ends with a
    * `qd(query_id, doc_id, score)` relation), shared by the q263 and
    * q271 oracles so engine and oracle stay in lock-step. */
  private def duckRetrievalCtes: String = """
        qs AS MATERIALIZED (
          SELECT doc_id AS query_id,
                 unnest(list_distinct(string_split(text, ' ')[6:8])) AS word
          FROM documents WHERE doc_id % 97 = 3),
        words AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents),
        w2 AS MATERIALIZED (SELECT doc_id, word FROM words WHERE word <> ''),
        dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
               FROM w2 GROUP BY doc_id),
        stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                         CAST(SUM(dl) AS BIGINT) * 1000 // COUNT(*) AS avg_m
                  FROM dl),
        qw AS (SELECT DISTINCT word FROM qs),
        tf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
               FROM w2 JOIN qw USING (word) GROUP BY doc_id, word),
        df AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df
               FROM tf GROUP BY word),
        ts AS (
          SELECT tf.doc_id, tf.word,
                 (length(bin(n_docs // df.df)) - 1)
                   * (tf.tf * 2200 * 1000 //
                      (tf.tf * 1000
                       + 1200 * (250 + 750 * (dl.dl * 1000000 // avg_m)
                           // 1000) // 1000)) AS s_t
          FROM tf JOIN df USING (word)
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN stats),
        qd AS MATERIALIZED (
          SELECT qs.query_id, ts.doc_id, CAST(SUM(ts.s_t) AS BIGINT) AS score
          FROM qs JOIN ts USING (word)
          GROUP BY qs.query_id, ts.doc_id)"""

  /** q265/q272's shared scorer: the add-one-smoothed bigram model
    * trained on the content-hash ~4/5 split (count tables ARE the
    * model — slim keyed aggregates, persisted once per run), probed by
    * the held-out docs' bigram occurrences. Returns one row per
    * held-out bigram occurrence: (doc_id, source, c12n, bits). */
  private def heldoutBigramBits(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val d = Tables(s, dir, "documents").select("doc_id", "source", "text")
      .withColumn("hb5",
        expr("cast(conv(substr(md5(text), 1, 15), 16, 10) AS BIGINT) % 5"))
    val train = d.filter(col("hb5") =!= 0L)
    val tb = bigramCounts(train).persist(MEMORY_AND_DISK)
    val c1 = tb.groupBy("w1").agg(sum("c12").as("c1"))
    val vocab = bigramVocab(train)
    d.filter(col("hb5") === 0L)
      .select(col("doc_id"), col("source"),
        explode(call_function("graft_word_ngrams", col("text"), lit(2)))
          .as("gram"))
      .withColumn("w1", element_at(split(col("gram"), " "), 1))
      .join(tb.select("gram", "c12"), Seq("gram"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("c12n", coalesce(col("c12"), lit(0L)))
      .withColumn("c1n", coalesce(col("c1"), lit(0L)))
      .withColumn("bits",
        expr("length(bin((c1n + v) div (c12n + 1))) - 1"))
  }

  /** q265/q306/s40 shared: the bigram count table (gram, c12, w1) of
    * the training docs `train` (text). */
  private[graft] def bigramCounts(train: DataFrame): DataFrame =
    train
      .select(explode(
        call_function("graft_word_ngrams", col("text"), lit(2)))
        .as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("c12"))
      .withColumn("w1", element_at(split(col("gram"), " "), 1))

  /** q265/s40 shared: the training split's vocabulary size (single row,
    * column v). */
  private[graft] def bigramVocab(train: DataFrame): DataFrame =
    train
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .agg(countDistinct("w").as("v"))

  /** q265/q306/s40 shared: the per-source bits/token report over scored
    * held-out bigram occurrences (source, c12n, `bits`). */
  private[graft] def bitsReport(probed: DataFrame, bits: String): DataFrame =
    probed.groupBy("source")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c12n") === 0L, 1L).otherwise(0L))
          .as("oov_bigrams"),
        sum(bits).as("total_bits"))
      .select(col("source"), col("n_bigrams"), col("oov_bigrams"),
        col("total_bits"),
        expr("total_bits * 1000 div n_bigrams")
          .as("bits_per_token_milli"))
      .orderBy("source")

  /** The DuckDB CTE chain matching [[heldoutBigramBits]] (ends with an
    * `sc(doc_id, source, c12n, bits)` relation), shared by the q265 and
    * q272 oracles so engine and oracle stay in lock-step. */
  private def duckBigramCtes: String = """
        doc5 AS (
          SELECT doc_id, source, text,
                 CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 5
                   AS hb5
          FROM documents),
        tr AS (SELECT text FROM doc5 WHERE hb5 <> 0),
        tb AS MATERIALIZED (
          SELECT gram, CAST(COUNT(*) AS BIGINT) AS c12
          FROM (SELECT unnest(list_transform(range(1, len(w)),
                  i -> w[i] || ' ' || w[i+1])) AS gram
                FROM (SELECT string_split(text, ' ') AS w FROM tr) t) g
          GROUP BY gram),
        c1 AS MATERIALIZED (
          SELECT string_split(gram, ' ')[1] AS w1,
                 CAST(SUM(c12) AS BIGINT) AS c1
          FROM tb GROUP BY 1),
        vocab AS (
          SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
          FROM (SELECT unnest(string_split(text, ' ')) AS w FROM tr) t
          WHERE w <> ''),
        hb AS (
          SELECT doc_id, source,
                 unnest(list_transform(range(1, len(w)),
                   i -> w[i] || ' ' || w[i+1])) AS gram
          FROM (SELECT doc_id, source, string_split(text, ' ') AS w
                FROM doc5 WHERE hb5 = 0) t),
        sc AS (
          SELECT hb.doc_id, hb.source,
                 COALESCE(tb.c12, 0) AS c12n,
                 length(bin((COALESCE(c1.c1, 0) + v)
                   // (COALESCE(tb.c12, 0) + 1))) - 1 AS bits
          FROM hb LEFT JOIN tb USING (gram)
                  LEFT JOIN c1
                    ON c1.w1 = string_split(hb.gram, ' ')[1]
                  CROSS JOIN vocab)"""

  /** q265's oracle, shared VERBATIM by s40 (the streaming twin must
    * converge to the batch held-out LM report exactly). */
  private[graft] def bigramLmOracle: String = s"""
        WITH $duckBigramCtes
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(count_if(c12n = 0) AS BIGINT) AS oov_bigrams,
               CAST(SUM(bits) AS BIGINT) AS total_bits,
               CAST(SUM(bits) AS BIGINT) * 1000 // COUNT(*)
                 AS bits_per_token_milli
        FROM sc
        GROUP BY source
        ORDER BY source"""

  /** q294's oracle, shared VERBATIM by s47 (the streaming boilerplate
    * gate must converge to the batch removal report exactly). */
  private[graft] def boilerplateOracle: String = """
        WITH wl AS (
          SELECT doc_id, source,
                 list_filter(string_split(text, ' '), w -> w <> '') AS wl
          FROM documents),
        seg AS (
          SELECT doc_id, source,
                 unnest(list_transform(
                   range(0, CAST(len(wl) // 2 AS BIGINT)),
                   i -> array_to_string(wl[(i*2+1):(i*2+2)], ' '))) AS seg
          FROM wl),
        bp AS (
          SELECT source, seg
          FROM seg GROUP BY source, seg
          HAVING COUNT(DISTINCT doc_id) >= 3),
        fl AS (
          SELECT s.source, s.doc_id, s.seg,
                 CASE WHEN b.seg IS NOT NULL THEN 1 ELSE 0 END AS is_bp
          FROM seg s LEFT JOIN bp b
            ON s.source = b.source AND s.seg = b.seg)
        SELECT source,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_segs,
               CAST(SUM(is_bp) AS BIGINT) AS bp_segs,
               CAST(COUNT(DISTINCT CASE WHEN is_bp = 1 THEN seg END)
                 AS BIGINT) AS bp_patterns,
               CAST(SUM(is_bp) AS BIGINT) * 1000000 // COUNT(*)
                 AS removed_ppm
        FROM fl
        GROUP BY source
        ORDER BY source"""

}
