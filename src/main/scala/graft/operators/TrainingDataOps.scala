package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Training-data curation operators beyond the dedup/similarity families:
  * PII redaction, TF-IDF term weighting, and Gopher-style repetition
  * quality (duplicate n-gram fraction) — the text-pipeline stages a
  * 100 TB pre-training corpus runs between ingest and dedup.
  *
  * Determinism contract (correctness gate): counts and rankings are pure
  * integer arithmetic. The one transcendental (TF-IDF's ln) is quantized
  * to integer micro-units BEFORE it participates in ranking, so a 1-ulp
  * libm difference between engines can never flip an ordering.
  *
  * 100 TB scale: every operator is a narrow projection or an equi-key
  * shuffle (term / n-gram / doc_id); regex work happens inside
  * whole-stage codegen (built-in regexp functions, no UDFs), and the
  * top-k per document uses a rank window that Spark executes as a
  * partial WindowGroupLimit before the shuffle (same plan shape as q51).
  */
object TrainingDataOps {

  /** Conservative PII patterns, expressible identically in Java regex
    * (Spark, codegen'd) and RE2 (DuckDB oracle): no backrefs, no
    * lookarounds. */
  val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val phoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val ssnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"

  /** Redact emails, US phone numbers, and SSN-shaped ids from a text
    * column. SSNs are replaced before phones: the patterns are disjoint
    * (3-2-4 vs 3-3-4 digit groups) but a fixed order keeps the
    * composition deterministic by construction. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, ssnRe, "[SSN]"),
        phoneRe, "[PHONE]"),
      emailRe, "[EMAIL]")

  val all: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- q57
    // PII redaction over documents. The fixture corpus carries no natural
    // PII, so the query first augments each doc with deterministic
    // doc_id-derived contact strings (a transformation of fixture data,
    // replicated verbatim in the oracle) — the regexes then have real
    // matches to find and the redacted lengths real deltas to pin.
    QueryDef(
      "q57_pii_redaction",
      (s, dir) => {
        val aug = Tables(s, dir, "documents").select(
          col("doc_id"),
          concat(
            col("text"),
            when(col("doc_id") % 3 =!= 0,
              concat(lit(" contact u"), col("doc_id"), lit("@ex"),
                col("doc_id") % 7, lit(".com"))).otherwise(""),
            when(col("doc_id") % 4 =!= 1,
              concat(lit(" call 555-"),
                lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
                lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0")))
              .otherwise(""),
            when(col("doc_id") % 5 === 2, " ssn 123-45-6789").otherwise(""))
            .as("text"))
        aug.select(
            col("doc_id"),
            regexp_count(col("text"), lit(emailRe)).as("n_email"),
            regexp_count(col("text"), lit(phoneRe)).as("n_phone"),
            regexp_count(col("text"), lit(ssnRe)).as("n_ssn"),
            length(col("text")).as("len_before"),
            length(redactPii(col("text"))).as("len_after"))
          .orderBy("doc_id")
      },
      Some("""
        WITH aug AS (
          SELECT doc_id,
                 text ||
                 CASE WHEN doc_id % 3 <> 0
                      THEN ' contact u' || doc_id || '@ex' || (doc_id % 7) || '.com'
                      ELSE '' END ||
                 CASE WHEN doc_id % 4 <> 1
                      THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
                           '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END ||
                 CASE WHEN doc_id % 5 = 2 THEN ' ssn 123-45-6789' ELSE '' END AS text
          FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_email,
               CAST(len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b')) AS INT) AS n_phone,
               CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS INT) AS n_ssn,
               CAST(length(text) AS INT) AS len_before,
               CAST(length(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(text, '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
                     '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g'),
                   '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g')) AS INT) AS len_after
        FROM aug
        ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q58
    // TF-IDF top-3 terms per document. idf is quantized to integer
    // micro-units (round(ln(N/df)·1e6)) before scoring, so the ranking is
    // pure BIGINT arithmetic — a 1-ulp ln() difference between engines
    // would need to land exactly on a .5·1e-6 boundary to matter, and can
    // never flip the order of two DIFFERENT (tf, df) pairs the way raw
    // double scores can (2·ln(10) vs ln(100) are equal in ℝ but not in
    // floating point). Ties break on term ascending.
    //
    // Plan: tf is one (doc_id, term) hash aggregate with map-side
    // partials; df reuses tf (no second corpus scan); the join is an
    // equi-shuffle on term; top-3 is a rank window with group-limit
    // pushdown. N (corpus size) is a one-row broadcast aggregate — the
    // whole plan stays lazy, and at 100 TB the count is a metadata-only
    // parquet scan, never a collect of rows.
    QueryDef(
      "q58_tfidf_topk",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        // N as a one-row aggregate cross-joined in (the broadcast is a
        // single fixed-size row at any SF), not docs.count(): an eager
        // count in the builder would run a full scan job merely to
        // CONSTRUCT the frame, breaking the registry's everything-is-
        // lazy-until-an-action contract (and plan-shape audits)
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val tf = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(length(col("term")) > 0)
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
        val scored = tf.join(dfreq, "term")
          .crossJoin(broadcast(nDocs))
          .withColumn("idf_micro",
            expr("CAST(round(ln(CAST(n_docs AS DOUBLE) / dfreq) * 1000000) AS BIGINT)"))
          .withColumn("score", col("tf") * col("idf_micro"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("term").asc)
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("rk"), col("term"),
            col("tf"), col("dfreq"), col("score"))
          .orderBy("doc_id", "rk")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents),
        tf AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM toks
          WHERE length(term) > 0 GROUP BY doc_id, term),
        d AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY term),
        n AS (SELECT COUNT(*) AS n FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf, d.dfreq,
                 tf.tf * CAST(round(ln(CAST(n.n AS DOUBLE) / d.dfreq) * 1000000) AS BIGINT)
                   AS score
          FROM tf JOIN d USING (term) CROSS JOIN n),
        r AS (
          SELECT *, ROW_NUMBER() OVER
                   (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
          FROM scored)
        SELECT doc_id, CAST(rk AS INT) AS rk, term, tf, dfreq, score
        FROM r WHERE rk <= 3
        ORDER BY doc_id, rk""")),

    // ---------------------------------------------------------------- q63
    // Repetition quality: duplicate-3-gram fraction per document (the
    // Gopher/RefinedWeb "repetitive content" filter signal). Grams come
    // from the native `graft_word_ngrams` kernel (plans/WordNgrams.scala)
    // — a per-row codegen byte-slicer, no interpreted higher-order
    // lambdas (the r2 lesson) — and the fraction is an integer
    // per-mille, not a float ratio.
    // Scale: gram generation is NARROW (scan → project → explode), with
    // no Exchange until the gram count's own partial-aggregated shuffle
    // — the earlier lead()-window formulation shuffled every exploded
    // token row on doc_id before a single gram existed, ~N_tokens rows
    // of exchange doing no reduction (plan-asserted in ScaleSpec).
    QueryDef(
      "q63_dup_ngram_fraction",
      (s, dir) => {
        val grams = Tables(s, dir, "documents")
          .select(col("doc_id"),
            explode(call_function("graft_word_ngrams", col("text"), lit(3))).as("g"))
        grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(
            sum("c").as("total_grams"),
            sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_grams"))
          .withColumn("dup_permille",
            expr("dup_grams * 1000 div total_grams"))
          .orderBy("doc_id")
      },
      Some("""
        WITH words AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        grams AS (
          SELECT doc_id,
                 UNNEST(list_transform(range(1, len(ws) - 1),
                        i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS g
          FROM words),
        counts AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g)
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS total_grams,
               CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_grams,
               CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) * 1000
                 // CAST(SUM(c) AS BIGINT) AS dup_permille
        FROM counts
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q65
    // Incremental ingest: the production dedup pattern — a NEW batch is
    // admitted against the EXISTING corpus, never corpus-vs-corpus. The
    // batch (derived deterministically from fixture docs: exact re-crawls,
    // updated revisions, truncated fragments) is classified
    // dup_exact → too_short → admitted, in that precedence.
    // Scale shape: membership is an equi-join on the 32-byte sha2 digest
    // (text never shuffles; the corpus side is a digest projection), the
    // same key discipline as q25 — NOT a broadcast, since the corpus
    // digest set scales with the corpus.
    QueryDef(
      "q65_incremental_ingest_dedup",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val incoming =
          docs.filter(col("doc_id") % 3 === 0)
            .select((col("doc_id") + 200000).as("doc_id"), col("text"))
            .unionByName(docs.filter(col("doc_id") % 7 === 0)
              .select((col("doc_id") + 300000).as("doc_id"),
                concat(col("text"), lit(" updated v2")).as("text")))
            .unionByName(docs.filter(col("doc_id") % 11 === 0)
              .select((col("doc_id") + 400000).as("doc_id"),
                substring(col("text"), 1, 30).as("text")))
        val corpusHashes = docs
          .select(sha2(col("text"), 256).as("h")).distinct()
          .withColumn("in_corpus", lit(true))
        incoming
          .withColumn("h", sha2(col("text"), 256))
          .join(corpusHashes, Seq("h"), "left")
          .withColumn("reason",
            when(col("in_corpus"), "dup_exact")
              .when(length(col("text")) < 50, "too_short")
              .otherwise("admitted"))
          .groupBy("reason")
          .agg(count(lit(1)).as("n"),
            min("doc_id").as("min_id"), max("doc_id").as("max_id"))
          .orderBy("reason")
      },
      // the oracle states membership over text directly — SHA-256 is the
      // engine's shuffle-key mechanism, not part of the semantics
      Some("""
        WITH incoming AS (
          SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
          UNION ALL
          SELECT doc_id + 300000, text || ' updated v2' FROM documents WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id + 400000, substr(text, 1, 30) FROM documents WHERE doc_id % 11 = 0),
        marked AS (
          SELECT doc_id,
                 CASE WHEN text IN (SELECT text FROM documents) THEN 'dup_exact'
                      WHEN length(text) < 50 THEN 'too_short'
                      ELSE 'admitted' END AS reason
          FROM incoming)
        SELECT reason, COUNT(*) AS n,
               MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        FROM marked
        GROUP BY reason
        ORDER BY reason""")),

    // ---------------------------------------------------------------- q66
    // Benchmark decontamination: the test-set-leakage check every
    // pre-training pipeline runs before release — for each benchmark
    // item, what fraction of its 5-grams appears anywhere in the
    // training corpus? The "benchmark" is derived deterministically from
    // fixture docs (words 6..25 of every 13th doc), so its grams overlap
    // the corpus by construction and the containment join has real work.
    // Scale shape: both sides emit (gram) rows NARROWLY via the native
    // `graft_word_ngrams` kernel (scan → project → explode, no window
    // shuffle of token rows); membership is a LEFT SEMI equi-join on the
    // gram string (at 100 TB: on its 64-bit hash) — the corpus side is
    // distinct-reduced map-side before the shuffle, and no text ever
    // moves. Flag at >500 per-mille.
    QueryDef(
      "q66_decontamination",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        def grams(df: org.apache.spark.sql.DataFrame, idCol: String) =
          df.select(col(idCol),
            explode(call_function("graft_word_ngrams", col("text"), lit(5))).as("g"))
        val bench = docs.filter(col("doc_id") % 13 === 0)
          .select(col("doc_id").as("bench_id"),
            // words 6..25 (1-based) re-joined — a 20-word benchmark item
            concat_ws(" ", slice(split(col("text"), " "), 6, 20)).as("text"))
        val benchGrams = grams(bench, "bench_id")
        val corpusGrams = grams(docs, "doc_id").select("g").distinct()
        val hits = benchGrams.join(corpusGrams, Seq("g"), "left_semi")
          .groupBy("bench_id").agg(count(lit(1)).as("n_hit"))
        benchGrams.groupBy("bench_id").agg(count(lit(1)).as("n_grams"))
          .join(hits, Seq("bench_id"), "left")
          .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
          .withColumn("hit_permille", expr("n_hit * 1000 div n_grams"))
          .withColumn("contaminated", col("hit_permille") > 500)
          .orderBy("bench_id")
      },
      Some(decontaminationOracle)),

    // ---------------------------------------------------------------- q67
    // Deterministic source-mixture sampling — data mixing for a training
    // run: each source contributes a configured per-mille share of its
    // docs (even-indexed sources 500‰, odd 250‰), selected by smallest
    // content fingerprint (graft_polyhash) — a content-derived,
    // seed-free order every engine can reproduce, unlike rand(). At
    // 100 TB: one window shuffle keyed by source; with few huge sources
    // you'd pre-salt the rank then merge per-salt quotas, same math.
    QueryDef(
      "q67_source_mixture_sample",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .withColumn("fp", call_function("graft_polyhash", col("text")))
          .withColumn("frac",
            when(substring(col("source"), 4, 10).cast("int") % 2 === 0, 500L)
              .otherwise(250L))
        val w = Window.partitionBy("source").orderBy("fp", "doc_id")
        val cw = Window.partitionBy("source")
        docs
          .withColumn("rk", row_number().over(w))
          .withColumn("n_total", count(lit(1)).over(cw))
          .filter(col("rk") <= expr("(n_total * frac + 999) div 1000"))
          .groupBy("source")
          .agg(max("n_total").as("n_total"),
            count(lit(1)).as("n_sampled"),
            sum("doc_id").as("sum_sampled_ids"))
          .orderBy("source")
      },
      Some("""
        WITH fp AS (
          SELECT doc_id, source,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, length(text) + 1),
                       i -> CAST(unicode(text[i]) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 1000000007) AS fp,
                 CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                      THEN 500 ELSE 250 END AS frac
          FROM documents),
        r AS (
          SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY fp, doc_id) AS rk,
                 COUNT(*) OVER (PARTITION BY source) AS n_total
          FROM fp)
        SELECT source,
               CAST(MAX(n_total) AS BIGINT) AS n_total,
               COUNT(*) AS n_sampled,
               CAST(SUM(doc_id) AS BIGINT) AS sum_sampled_ids
        FROM r
        WHERE rk <= (n_total * frac + 999) // 1000
        GROUP BY source
        ORDER BY source""")),

    // ---------------------------------------------------------------- q72
    // Fuzzy entity resolution: match corrupted name variants (last char
    // dropped, deterministic) back to the catalog's distinct names by
    // edit distance ≤ 2 — with BLOCKING: candidates come from an
    // equi-join on the 4-char name prefix, so the quadratic Levenshtein
    // only runs inside blocks, never all-pairs (the same candidate-then-
    // verify discipline as the MinHash/SimHash families). Best match per
    // variant by (distance, name) — fully deterministic.
    QueryDef(
      "q72_fuzzy_entity_match",
      (s, dir) => {
        val part = Tables(s, dir, "part")
        val names = part.select(col("p_name")).distinct()
          .withColumn("blk", substring(col("p_name"), 1, 4))
        val variants = part.filter(col("p_partkey") % 10 === 0)
          .select((col("p_partkey") + 500000).as("variant_id"),
            expr("substring(p_name, 1, length(p_name) - 1)").as("vname"))
          .withColumn("blk", substring(col("vname"), 1, 4))
        val w = Window.partitionBy("variant_id")
          .orderBy(col("dist").asc, col("p_name").asc)
        variants.join(names, "blk")
          .withColumn("dist", levenshtein(col("vname"), col("p_name")))
          .filter(col("dist") <= 2)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("variant_id"), col("vname"),
            col("p_name").as("matched_name"), col("dist"))
          .orderBy("variant_id")
      },
      Some("""
        WITH names AS (
          SELECT DISTINCT p_name, substr(p_name, 1, 4) AS blk FROM part),
        variants AS (
          SELECT variant_id, vname, substr(vname, 1, 4) AS blk
          FROM (SELECT p_partkey + 500000 AS variant_id,
                       substr(p_name, 1, length(p_name) - 1) AS vname
                FROM part WHERE p_partkey % 10 = 0)),
        cand AS (
          SELECT v.variant_id, v.vname, n.p_name,
                 levenshtein(v.vname, n.p_name) AS dist
          FROM variants v JOIN names n USING (blk)
          WHERE levenshtein(v.vname, n.p_name) <= 2),
        best AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY variant_id
                      ORDER BY dist, p_name) AS rk
          FROM cand)
        SELECT variant_id, vname, p_name AS matched_name, CAST(dist AS INT) AS dist
        FROM best WHERE rk = 1
        ORDER BY variant_id""")),

    // ---------------------------------------------------------------- q73
    // Unicode NFC normalization (native graft_nfc expression —
    // plans/NfcNormalize.scala): composed and decomposed code-point
    // sequences of the SAME text must converge to identical strings, or
    // every downstream digest/fingerprint silently double-counts
    // visually-identical documents. Each doc is extended with a composed
    // (A) and a decomposed (B) variant of the same suffix; the query
    // proves raw A ≠ B but NFC(A) = NFC(B), and measures the code-point
    // delta that normalization removes. All ASCII-safe: non-ASCII code
    // points enter via escapes/chr(), never raw source bytes.
    QueryDef(
      "q73_unicode_normalization",
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            concat(col("text"), lit(" caf\u00e9 na\u00efve")).as("a"),
            concat(col("text"), lit(" cafe\u0301 nai\u0308ve")).as("b"))
          .select(col("doc_id"),
            (col("a") =!= col("b")).as("raw_differs"),
            (call_function("graft_nfc", col("a"))
              === call_function("graft_nfc", col("b"))).as("nfc_converges"),
            (length(col("b")) - length(call_function("graft_nfc", col("b"))))
              .as("len_delta"))
          .orderBy("doc_id")
      },
      Some("""
        WITH v AS (
          SELECT doc_id,
                 text || ' caf' || chr(233) || ' na' || chr(239) || 've' AS a,
                 text || ' cafe' || chr(769) || ' nai' || chr(776) || 've' AS b
          FROM documents)
        SELECT doc_id,
               (a <> b) AS raw_differs,
               (nfc_normalize(a) = nfc_normalize(b)) AS nfc_converges,
               CAST(length(b) - length(nfc_normalize(b)) AS INT) AS len_delta
        FROM v
        ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q74
    // Deterministic train/val/test split (80/10/10) by CONTENT hash, not
    // row position or rand(): the same document lands in the same split
    // on every run, on any cluster, after any repartition — and exact
    // duplicates land in the SAME split, so near-dup leakage across
    // splits is detectable downstream instead of baked in. Pure narrow
    // projection + one fixed-cardinality aggregate.
    QueryDef(
      "q74_train_val_test_split",
      (s, dir) => {
        Tables(s, dir, "documents")
          .withColumn("bucket", call_function("graft_polyhash", col("text")) % 100)
          .withColumn("split",
            when(col("bucket") < 80, "train")
              .when(col("bucket") < 90, "val")
              .otherwise("test"))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            sum("doc_id").as("sum_ids"),
            sum("n_chars").as("sum_chars"))
          .orderBy("split")
      },
      Some("""
        WITH f AS (
          SELECT doc_id, n_chars,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, length(text) + 1),
                       i -> CAST(unicode(text[i]) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 1000000007) % 100 AS bucket
          FROM documents)
        SELECT CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split,
               COUNT(*) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM f
        GROUP BY 1
        ORDER BY split""")),

    // ---------------------------------------------------------------- q78
    // Sequence packing — concat-and-chunk, the way pretraining batches
    // are actually built: documents are laid end-to-end in a
    // deterministic order and cut into fixed token-budget packs;
    // pack_id = exclusive-prefix-sum(tokens) div budget, so a document
    // starting inside pack k belongs to pack k (documents may span the
    // cut — the chunker's concern, not the planner's). Packing is PER
    // SOURCE: the running sum is a keyed window
    // (partitionBy(source).orderBy(doc_id)), so at 100 TB each shard
    // packs independently and no global single-partition window ever
    // exists. Output: per-pack doc counts and token totals.
    QueryDef(
      "q78_sequence_packing",
      (s, dir) => {
        val budget = 512L // tokens per pack
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables(s, dir, "documents")
          .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
          .withColumn("cum_incl", sum("n_tokens").over(w))
          .withColumn("pack_id",
            expr(s"(cum_incl - n_tokens) div $budget"))
          .groupBy("source", "pack_id")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").as("pack_tokens"),
            min("doc_id").as("first_doc"),
            max("doc_id").as("last_doc"))
          .orderBy("source", "pack_id")
      },
      Some("""
        WITH t AS (
          SELECT source, doc_id,
                 len(string_split(text, ' ')) AS n_tokens,
                 SUM(len(string_split(text, ' ')))
                   OVER (PARTITION BY source ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) AS cum_incl
          FROM documents)
        SELECT source, CAST((cum_incl - n_tokens) // 512 AS BIGINT) AS pack_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
               CAST(MIN(doc_id) AS BIGINT) AS first_doc,
               CAST(MAX(doc_id) AS BIGINT) AS last_doc
        FROM t
        GROUP BY source, pack_id
        ORDER BY source, pack_id""")),

    // ---------------------------------------------------------------- q79
    // Document chunking with overlap — the RAG/context-window prep step:
    // each document is cut into fixed 64-token chunks on a 48-token
    // stride (16-token overlap), so no sentence at a cut boundary is
    // lost to both neighbors. chunk count is pure integer arithmetic
    // (1 + ceil_div(max(0, n-64), 48)), the chunk rows come from one
    // explode(sequence(...)) — a narrow per-row generator, NO shuffle
    // until the gate's final ORDER BY; at 100 TB chunking is embarrassingly
    // parallel over the scan.
    QueryDef(
      "q79_doc_chunking",
      (s, dir) =>
        Tables(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .withColumn("n", size(col("toks")).cast("long"))
          .withColumn("n_chunks", expr("1 + (greatest(0, n - 64) + 47) div 48"))
          .select(col("doc_id"), col("toks"),
            explode(expr("sequence(0, n_chunks - 1)")).as("chunk_idx"))
          .withColumn("chunk",
            expr("slice(toks, cast(chunk_idx * 48 + 1 as int), 64)"))
          .select(col("doc_id"), col("chunk_idx"),
            size(col("chunk")).as("chunk_tokens"),
            array_join(col("chunk"), " ").as("chunk_text"))
          .orderBy("doc_id", "chunk_idx"),
      Some("""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks,
                 len(string_split(text, ' ')) AS n
          FROM documents),
        c AS (
          SELECT doc_id, toks,
                 1 + (greatest(0, n - 64) + 47) // 48 AS n_chunks
          FROM t),
        e AS (
          SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_idx
          FROM c)
        SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
               CAST(len(list_slice(toks, chunk_idx * 48 + 1, chunk_idx * 48 + 64)) AS INT)
                 AS chunk_tokens,
               array_to_string(list_slice(toks, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' ')
                 AS chunk_text
        FROM e
        ORDER BY doc_id, chunk_idx""")),

    // ---------------------------------------------------------------- q80
    // Training-example assembly: each user's first-50-event prefix as an
    // ordered action sequence — the "behavioral context window" shape of
    // next-event-prediction datasets. The cap happens BEFORE collect:
    // rank<=50 over (user, time) plans as WindowGroupLimit (each task
    // keeps its 50 best per user map-side), so the grouped state is
    // bounded at 50 rows per user no matter how hot a power user's
    // history gets at 100 TB — never collect-then-truncate.
    QueryDef(
      "q80_session_prefix_assembly",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        Tables(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 50)
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_prefix"),
            expr("""array_join(
                      transform(sort_array(collect_list(struct(rn, event_type))),
                                x -> x.event_type), ' ')""").as("prefix_seq"))
          .orderBy("user_id")
      },
      Some("""
        WITH r AS (
          SELECT user_id, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events)
        SELECT user_id, COUNT(*) AS n_prefix,
               string_agg(event_type, ' ' ORDER BY rn) AS prefix_seq
        FROM r
        WHERE rn <= 50
        GROUP BY user_id
        ORDER BY user_id""")),

    // ---------------------------------------------------------------- q83
    // Split-leakage audit — composes q41's exact prefix-filtered Jaccard
    // join with q74's content-hash split: an arriving re-crawl batch is
    // near-dup-matched against the corpus (3-gram shingles, τ = 0.6,
    // complete candidates from rare-first prefixes — never all-pairs),
    // and each verified pair is labeled with both sides' hash-assigned
    // splits. `leaks = true` rows are the eval-contamination q74's
    // design prevents for EXACT dups but cannot for near-dups: a
    // variant's text hashes to a different bucket, so without this audit
    // a train-side near-twin of a test doc ships silently. Same scale
    // shape as q41: bucket-key equi-join + integer-exact verify.
    QueryDef(
      "q83_split_leakage_audit",
      (s, dir) => {
        val splitOf = (c: Column) =>
          when(call_function("graft_polyhash", c) % 100 < 80, "train")
            .when(call_function("graft_polyhash", c) % 100 < 90, "val")
            .otherwise("test")
        val docs = Tables(s, dir, "documents").select("doc_id", "text")
        val b = docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 200000).as("doc_id"),
            regexp_replace(col("text"), " \\S+$", "").as("text"))
        // persist, NOT localCheckpoint — measured both ways (r11): the
        // r10 verdict asked for the eager-checkpoint treatment here
        // (the suite-slot anomaly class: q83 read 14.9 s driver-side vs
        // 2.0 iso), but checkpointing these two ARRAY-HEAVY frames made
        // the operator itself 2.2× slower (iso 5.98 s checkpoint-both
        // vs 2.78 s persist-both, same session, q41 at its floor as the
        // control): a localCheckpoint stores raw row blocks, while the
        // columnar cache compresses the shingle arrays and prunes
        // columns per consumer. The checkpoint discipline is for
        // ITERATIVE lineage-doubling loops (q262/q297/q316), not for
        // single-query multiply-read frames. The slot-anomaly class the
        // verdict actually cared about is now self-diagnosing instead:
        // Bench's per-query cache_events counters (readd = recompute
        // paid, spill, evict) name a churning slot in the artifact.
        // spread (r14, guide §2.5): the union of two single-row-group
        // scans is ≤2 tasks, serializing the polyhash + shingle build
        val corpus =
          graft.Tables.spread(docs.unionByName(b), col("doc_id"))
          .withColumn("split", splitOf(col("text")))
          .withColumn("w", split(col("text"), " "))
          .withColumn("s", expr(Dedup.shinglesExpr))
          .filter(size(col("s")) > 0)
          .select("doc_id", "split", "s")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val freq = corpus.select(explode(col("s")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("f"))
        // persisted: read by the prefix stage AND twice by the verify
        // rejoin (VERDICT r9 item 3 — q41's skinny-candidate discipline)
        val sorted =
          corpus.select(col("doc_id"), col("split"), explode(col("s")).as("t"))
            .join(freq, "t")
            .groupBy("doc_id")
            .agg(first(col("split")).as("split"),
              // `.t` (codegen'd field extraction), not a per-element lambda
              expr("array_sort(collect_list(struct(f, t))).t").as("st"))
            .withColumn("n", size(col("st")))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // split labels rejoin by id after the candidate dedup
        SimilarityJoin.prefixCandidates(sorted)
          .join(sorted.select(col("doc_id").as("id_a"),
            col("split").as("split_a"), col("st").as("sa")), "id_a")
          .join(sorted.select(col("doc_id").as("id_b"),
            col("split").as("split_b"), col("st").as("sb")), "id_b")
          .filter(size(array_intersect(col("sa"), col("sb"))) * 5
            >= size(array_union(col("sa"), col("sb"))) * 3)
          .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"),
            (col("split_a") =!= col("split_b")).as("leaks"))
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 200000, regexp_replace(text, ' \S+$', '')
          FROM documents WHERE doc_id % 7 = 0),
        sp AS (
          SELECT doc_id,
                 CASE WHEN fp < 80 THEN 'train'
                      WHEN fp < 90 THEN 'val' ELSE 'test' END AS split
          FROM (SELECT doc_id,
                  list_reduce(
                    list_prepend(CAST(0 AS BIGINT),
                      list_transform(range(1, length(text) + 1),
                        i -> CAST(unicode(text[i]) AS BIGINT))),
                    (acc, c) -> (acc * 31 + c) % 1000000007) % 100 AS fp
                FROM corpus)),
        toks AS (SELECT doc_id, string_split(text, ' ') w FROM corpus),
        sh AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(w) - 1),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) s
               FROM toks WHERE len(w) >= 3),
        tok2 AS MATERIALIZED (SELECT doc_id, unnest(s) AS t FROM sh),
        freq AS MATERIALIZED (SELECT t, COUNT(*) AS f FROM tok2 GROUP BY t),
        sorted AS MATERIALIZED (
          SELECT doc_id, list(t ORDER BY f, t) AS st, COUNT(*) AS n
          FROM tok2 JOIN freq USING (t) GROUP BY doc_id),
        pref AS MATERIALIZED (
          SELECT doc_id, n,
                 unnest(list_slice(st, 1, n - (3*n + 4)//5 + 1)) AS pt
          FROM sorted),
        cand AS MATERIALIZED (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM pref a JOIN pref b
            ON a.pt = b.pt AND a.doc_id < 200000 AND b.doc_id >= 200000
          WHERE 5 * b.n >= 3 * a.n AND 5 * a.n >= 3 * b.n),
        verified AS (
          SELECT id_a, id_b
          FROM cand JOIN sorted sa ON sa.doc_id = cand.id_a
                    JOIN sorted sb ON sb.doc_id = cand.id_b
          WHERE 5 * len(list_intersect(sa.st, sb.st))
                >= 3 * len(list_distinct(list_concat(sa.st, sb.st))))
        SELECT id_a, id_b,
               sa.split AS split_a, sb.split AS split_b,
               (sa.split <> sb.split) AS leaks
        FROM verified
        JOIN sp sa ON sa.doc_id = id_a
        JOIN sp sb ON sb.doc_id = id_b
        ORDER BY id_a, id_b""")),

    // ---------------------------------------------------------------- q86
    // Temperature-based mixture quotas — the size^alpha (alpha = 0.5)
    // reweighting multilingual/multi-source training mixtures use: big
    // sources are down-weighted, small sources up-weighted, so no source
    // dominates the batch stream. Weights are floor(sqrt(n)) — IEEE
    // sqrt is correctly rounded, so both engines produce the identical
    // integer — and quotas are integer div of a 200-doc budget with a
    // 1-doc floor. The quota frame is SOURCE-level (bounded cardinality
    // — it does not grow with SF), so its all-rows window and the join
    // back to docs are metadata-sized; doc selection is q67's
    // smallest-fingerprint rank per source.
    QueryDef(
      "q86_temperature_mixture",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .withColumn("fp", call_function("graft_polyhash", col("text")))
        // weight total via a broadcast single-row aggregate (q58's lazy
        // idiom) rather than an all-rows window: same bounded-frame
        // cost, but no single-partition WindowExec in any log
        val weights =
          docs.groupBy("source").agg(count(lit(1)).as("n_total"))
            .withColumn("wt", floor(sqrt(col("n_total"))).cast("long"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val quotas = weights
          .join(broadcast(weights.agg(sum("wt").as("sum_wt"))), lit(true))
          .withColumn("quota", greatest(lit(1L), expr("(200 * wt) div sum_wt")))
        val rw = Window.partitionBy("source").orderBy("fp", "doc_id")
        docs.join(quotas.select("source", "n_total", "quota"), "source")
          .withColumn("rk", row_number().over(rw))
          .filter(col("rk") <= col("quota"))
          .groupBy("source")
          .agg(max("n_total").as("n_total"), max("quota").as("quota"),
            count(lit(1)).as("n_sampled"),
            sum("doc_id").as("sum_sampled_ids"))
          .orderBy("source")
      },
      Some("""
        WITH fp AS (
          SELECT doc_id, source,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, length(text) + 1),
                       i -> CAST(unicode(text[i]) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
          FROM documents),
        c AS (SELECT source, COUNT(*) AS n_total FROM fp GROUP BY source),
        q AS (SELECT source, n_total,
                greatest(1, (200 * CAST(floor(sqrt(n_total)) AS BIGINT))
                             // SUM(CAST(floor(sqrt(n_total)) AS BIGINT)) OVER ())
                  AS quota
              FROM c),
        r AS (SELECT f.doc_id, f.source, q.n_total, q.quota,
                ROW_NUMBER() OVER (PARTITION BY f.source
                                   ORDER BY f.fp, f.doc_id) AS rk
              FROM fp f JOIN q ON f.source = q.source)
        SELECT source,
               CAST(MAX(n_total) AS BIGINT) AS n_total,
               CAST(MAX(quota) AS BIGINT) AS quota,
               COUNT(*) AS n_sampled,
               CAST(SUM(doc_id) AS BIGINT) AS sum_sampled_ids
        FROM r
        WHERE rk <= quota
        GROUP BY source
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q104
    // Padding-aware batch assembly: documents are binned into width-16
    // token-length buckets, ordered longest-first within each bucket,
    // and cut into batches of 8; the report is the per-batch padding
    // waste (batch_max·n − Σlen — the tokens a fixed-shape trainer pads
    // and throws away). Length-bucketed batching is why production
    // loaders (Megatron, T5) sort-by-length: random batching wastes
    // ~40% of FLOPs on padding at typical length variance; this is the
    // batch-shaping step between q78 (bin packing into fixed windows)
    // and the trainer.
    // Scale: one narrow length projection, one window shuffle keyed by
    // BUCKET (bounded spread of the length distribution — no global
    // sort), then a (bucket, batch) hash aggregate with map-side
    // partials. All arithmetic integer-exact.
    QueryDef(
      "q104_length_bucket_batches",
      (s, dir) => {
        val w = Window.partitionBy("bucket").orderBy(col("n_tokens").desc, col("doc_id"))
        Tables(s, dir, "documents")
          .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
          .withColumn("bucket", expr("((n_tokens - 1) div 16 + 1) * 16"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("batch_id", expr("(rn - 1) div 8"))
          .groupBy("bucket", "batch_id")
          .agg(count(lit(1)).as("n_docs"),
            max("n_tokens").as("max_len"),
            sum("n_tokens").as("sum_tokens"))
          .withColumn("pad_waste", expr("max_len * n_docs - sum_tokens"))
          .orderBy("bucket", "batch_id")
      },
      Some("""
        WITH lens AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents),
        bucketed AS (
          SELECT doc_id, n_tokens,
                 ((n_tokens - 1) // 16 + 1) * 16 AS bucket
          FROM lens),
        batched AS (
          SELECT bucket, n_tokens,
                 (ROW_NUMBER() OVER (PARTITION BY bucket
                    ORDER BY n_tokens DESC, doc_id) - 1) // 8 AS batch_id
          FROM bucketed)
        SELECT bucket, batch_id,
               COUNT(*) AS n_docs,
               MAX(n_tokens) AS max_len,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
               MAX(n_tokens) * COUNT(*) - CAST(SUM(n_tokens) AS BIGINT)
                 AS pad_waste
        FROM batched
        GROUP BY bucket, batch_id
        ORDER BY bucket, batch_id"""))
  ,

    // --------------------------------------------------------------- q128
    // Quality-WEIGHTED sampling (the DCLM/DataComp recipe): where q81
    // cuts on a hard threshold and q67 fills per-source quotas, this
    // admits each document with probability proportional to its quality
    // score — soft sampling that keeps some tail data and deduplicates
    // nothing outright. The coin flip is the content fingerprint
    // (graft_polyhash % 1000 < weight_permille), so the sample is
    // seed-free, reproducible across engines and reruns, and stable
    // under re-partitioning — the q67/q74 discipline; weight =
    // 1000 − stopword per-mille clamped to [100, 900] so every doc has
    // a real chance in AND out (pure integer arithmetic end to end).
    // 100 TB shape: scoring + the coin flip are one narrow codegen'd
    // map over the corpus; the only shuffle is the per-source audit
    // rollup, partial-aggregated map-side.
    QueryDef(
      "q128_quality_weighted_sample",
      (s, dir) => {
        Tables(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .withColumn("n", size(col("toks")))
          .withColumn("sw", expr(
            """size(filter(toks, t -> t IN ('the', 'a', 'join', 'hash', 'row')))"""))
          .withColumn("w", expr(
            "CAST(greatest(100, least(900, 1000 - sw * 1000 div n)) AS BIGINT)"))
          .withColumn("admit",
            call_function("graft_polyhash", col("text")) % 1000 < col("w"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("admit"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("admit"), col("doc_id"))).as("kept_id_sum"),
            sum("w").as("sum_weight_permille"))
          .orderBy("source")
      },
      Some("""
        WITH t AS (
          SELECT doc_id, source, text, string_split(text, ' ') AS toks
          FROM documents),
        m AS (
          SELECT doc_id, source, text, len(toks) AS n,
                 len(list_filter(toks,
                   x -> x IN ('the', 'a', 'join', 'hash', 'row'))) AS sw
          FROM t),
        wts AS (
          SELECT doc_id, source,
                 CAST(greatest(100, least(900, 1000 - sw * 1000 // n))
                   AS BIGINT) AS w,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, length(text) + 1),
                       i -> CAST(unicode(text[i]) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 1000000007) % 1000 AS h
          FROM m)
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN h < w THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_kept,
               CAST(SUM(CASE WHEN h < w THEN doc_id END) AS BIGINT)
                 AS kept_id_sum,
               CAST(SUM(w) AS BIGINT) AS sum_weight_permille
        FROM wts
        GROUP BY source
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q139
    // Deterministic negative sampling via a hash ring — contrastive
    // training prep: every document's "hard random" negative is its
    // SUCCESSOR on the content-hash ring (next (h, doc_id) in cyclic
    // order) — seed-free, engine-reproducible, uniformly scrambled, and
    // stable under repartitioning, the same ring trick consistent
    // hashing uses. The global successor scan is the distributed
    // primitive here (q130 did prefix-max; this is its successor-scan
    // sibling): a bucket-KEYED lead() finds within-bucket successors,
    // each bucket's last element takes the FIRST element of the nearest
    // higher non-empty bucket (broadcast theta self-join over the
    // bounded bucket frame), and the ring wraps the global maximum to
    // the global minimum — no unkeyed window anywhere.
    QueryDef(
      "q139_negative_sampling",
      (s, dir) => {
        val h = Tables(s, dir, "documents")
          .select(col("doc_id"),
            call_function("graft_polyhash", col("text")).as("h"))
          .withColumn("bucket", expr("h div 62500001"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("bucket").orderBy("h", "doc_id")
        val within = h.withColumn("succ", lead("doc_id", 1).over(w))
        val firsts = h.groupBy("bucket")
          .agg(min(struct(col("h"), col("doc_id"))).as("f"))
          .select(col("bucket"), col("f.doc_id").as("bfirst"))
        val nextb = firsts.as("x")
          .join(broadcast(firsts.as("y")),
            col("y.bucket") > col("x.bucket"), "left")
          .groupBy(col("x.bucket").as("bucket"))
          .agg(min(struct(col("y.bucket"), col("y.bfirst"))).as("nb"))
          .select(col("bucket"), col("nb.bfirst").as("next_first"))
        val gfirst = h.agg(min(struct(col("h"), col("doc_id"))).as("g"))
          .select(col("g.doc_id").as("gfirst"))
        within.join(broadcast(nextb), Seq("bucket"), "left")
          .crossJoin(broadcast(gfirst)) // single-row (q58/q71 discipline)
          .select(col("doc_id"),
            coalesce(col("succ"), col("next_first"), col("gfirst"))
              .as("neg_id"))
          .orderBy("doc_id")
      },
      // the oracle states the ring with the single global window the
      // engine decomposes into keyed pieces — same total order
      Some("""
        WITH h AS (
          SELECT doc_id,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, length(text) + 1),
                       i -> CAST(unicode(text[i]) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 1000000007) AS h
          FROM documents),
        ord AS (
          SELECT doc_id, h,
                 lead(doc_id) OVER (ORDER BY h, doc_id) AS nxt
          FROM h),
        frst AS (
          SELECT doc_id AS f FROM h ORDER BY h, doc_id LIMIT 1)
        SELECT doc_id,
               COALESCE(nxt, (SELECT f FROM frst)) AS neg_id
        FROM ord
        ORDER BY doc_id"""))
  ,

    // --------------------------------------------------------------- q143
    // Per-source weighted systematic sampling: k=5 draws per source,
    // probability proportional to document size (n_chars), WITHOUT
    // replacement-style randomness — the classic PPS systematic design
    // (Madow 1949): lay documents on a weight line (keyed prefix sum,
    // ordered by doc_id), drop k equally-spaced midpoints
    // t_j = ((2j+1)·T) div (2k), and take the document whose interval
    // contains each midpoint. Everything is integer arithmetic, so the
    // draw is exactly reproducible on any engine — the property a
    // training-mixture spec needs for auditability. 100 TB: the prefix
    // sum is keyed by source (never a global window), the per-source
    // totals and the 5k threshold rows are broadcast, and the
    // interval-containment join is an equi-join on source followed by a
    // range filter — no all-pairs product (a source's thresholds are
    // k rows, so the post-join filter touches k copies per doc).
    QueryDef(
      "q143_systematic_weighted_sample",
      (s, dir) => {
        val k = 5
        val docs = Tables(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars").as("w"))
          .withColumn("e", sum("w").over(
            Window.partitionBy("source").orderBy("doc_id")))
          .withColumn("st", col("e") - col("w"))
        val totals = docs.groupBy("source").agg(sum("w").as("t_w"))
        val thresholds = totals
          .select(col("source"), col("t_w"),
            explode(expr(s"cast(sequence(0, ${k - 1}) as array<bigint>)")).as("j"))
          .select(col("source"), col("j"),
            expr(s"(2 * j + 1) * t_w div ${2 * k}").as("t"))
        docs.join(broadcast(thresholds), "source")
          .filter(col("st") <= col("t") && col("t") < col("e"))
          .select(col("source"), col("j"), col("doc_id"), col("w"))
          .orderBy("source", "j")
      },
      Some("""
        WITH d AS (
          SELECT source, doc_id, n_chars AS w,
                 SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS e
          FROM documents),
        dd AS (SELECT source, doc_id, w, e, e - w AS st FROM d),
        tot AS (SELECT source, SUM(n_chars) AS t_w FROM documents GROUP BY 1),
        th AS (
          SELECT source, j, (2 * j + 1) * t_w // 10 AS t
          FROM tot CROSS JOIN (SELECT range AS j FROM range(0, 5)) u)
        SELECT dd.source AS source, th.j AS j, dd.doc_id AS doc_id, dd.w AS w
        FROM dd JOIN th ON dd.source = th.source
        WHERE dd.st <= th.t AND th.t < dd.e
        ORDER BY source, j"""))
  ,

    // --------------------------------------------------------------- q157
    // The FLAGSHIP composition: the whole training-data pipeline as one
    // query — exact dedup (q25's keep-first) → quality gate (q77's
    // CurationRules subset) → decontamination (q66's benchmark 5-gram
    // semi-join, here dropping the contaminated CORPUS docs) → mixture
    // selection (q67's fingerprint-rank quota) → sequence packing
    // (q78's budgeted prefix-sum chunks) — reported as the per-source
    // funnel every curation run publishes: counts surviving each stage,
    // packs produced, tokens selected. Every stage is the established
    // deterministic formulation, so the five-stage composition is
    // hash-exact end to end; the stage frames persist once each (the
    // funnel counts re-aggregate cached data, not re-derived lineage).
    // 100 TB: dedup shuffles 32 B digests, the gram semi-join shuffles
    // grams against a slim benchmark side, quota + packing ride one
    // source partitioning — no stage breaks the individual operators'
    // scale contracts by being composed.
    QueryDef(
      "q157_training_pipeline_e2e",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val base = Tables(s, dir, "documents").select("doc_id", "source", "text")
        // re-crawl corpus: every 5th doc arrives twice (q25's fixture)
        val raw = base.unionByName(
          base.filter(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 100000).as("doc_id"),
              col("source"), col("text")))
        val keepIds = raw.withColumn("dig", sha2(col("text"), 256))
          .groupBy("dig").agg(min("doc_id").as("doc_id"))
          .select("doc_id")
        val deduped =
          raw.join(keepIds, Seq("doc_id"), "left_semi").persist(MEMORY_AND_DISK)
        val quality = deduped
          .withColumn("n_words", size(split(col("text"), " ")).cast("long"))
          .withColumn("sum_len",
            length(regexp_replace(col("text"), " ", "")).cast("long"))
          .filter(col("n_words") >= CurationRules.MinWords
            && expr("sum_len * 1000000 div n_words") >= CurationRules.MinMeanLenMicro
            && expr("sum_len * 1000000 div n_words") <= CurationRules.MaxMeanLenMicro)
          .persist(MEMORY_AND_DISK)
        val benchGrams = base.filter(col("doc_id") % 13 === 0)
          .select(concat_ws(" ", slice(split(col("text"), " "), 6, 20)).as("text"))
          .select(explode(
            call_function("graft_word_ngrams", col("text"), lit(5))).as("g"))
          .distinct()
        val contaminated = quality
          .select(col("doc_id"), explode(
            call_function("graft_word_ngrams", col("text"), lit(5))).as("g"))
          .join(benchGrams, Seq("g"), "left_semi")
          .select("doc_id").distinct()
        val clean =
          quality.join(contaminated, Seq("doc_id"), "left_anti")
            .withColumn("fp", call_function("graft_polyhash", col("text")))
            .persist(MEMORY_AND_DISK)
        val rw = Window.partitionBy("source").orderBy("fp", "doc_id")
        val packed = clean
          .withColumn("rk", row_number().over(rw))
          .filter(col("rk") <= 30)
          .withColumn("cum", sum("n_words").over(
            rw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("pack_id", expr("(cum - n_words) div 512"))
        def cnt(df: org.apache.spark.sql.DataFrame, name: String) =
          df.groupBy("source").agg(count(lit(1)).as(name))
        cnt(raw, "n_raw")
          .join(cnt(deduped, "n_dedup"), "source")
          .join(cnt(quality, "n_quality"), "source")
          .join(cnt(clean, "n_clean"), "source")
          .join(packed.groupBy("source").agg(
            count(lit(1)).as("n_selected"),
            (max("pack_id") + 1).as("n_packs"),
            sum("n_words").as("tokens_selected")), "source")
          .orderBy("source")
      },
      Some(s"""
        WITH base AS (SELECT doc_id, source, text FROM documents),
        raw AS (
          SELECT doc_id, source, text FROM base
          UNION ALL
          SELECT doc_id + 100000, source, text FROM base WHERE doc_id % 5 = 0),
        keepd AS (SELECT MIN(doc_id) AS doc_id FROM raw GROUP BY sha256(text)),
        dedup AS (SELECT r.* FROM raw r
                  WHERE r.doc_id IN (SELECT doc_id FROM keepd)),
        qm AS (
          SELECT *, len(string_split(text, ' ')) AS n_words,
                 length(replace(text, ' ', '')) AS sum_len
          FROM dedup),
        quality AS (
          SELECT * FROM qm
          WHERE n_words >= ${CurationRules.MinWords}
            AND sum_len * 1000000 // n_words >= ${CurationRules.MinMeanLenMicro}
            AND sum_len * 1000000 // n_words <= ${CurationRules.MaxMeanLenMicro}),
        bgrams AS (
          SELECT DISTINCT UNNEST(list_transform(range(1, len(ws) - 3),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                      ws[i+3] || ' ' || ws[i+4])) AS g
          FROM (SELECT string_split(
                  array_to_string(string_split(text, ' ')[6:25], ' '), ' ') AS ws
                FROM base WHERE doc_id % 13 = 0)),
        contam AS (
          SELECT DISTINCT doc_id FROM (
            SELECT doc_id, UNNEST(list_transform(range(1, len(ws) - 3),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                        ws[i+3] || ' ' || ws[i+4])) AS g
            FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM quality))
          WHERE g IN (SELECT g FROM bgrams)),
        clean AS (
          SELECT q.*, list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, length(text) + 1),
                       i -> CAST(unicode(text[i]) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
          FROM quality q
          WHERE q.doc_id NOT IN (SELECT doc_id FROM contam)),
        sel AS (
          SELECT *, SUM(n_words) OVER (PARTITION BY source ORDER BY fp, doc_id
                                       ROWS UNBOUNDED PRECEDING) AS cum
          FROM (
            SELECT *, row_number() OVER (PARTITION BY source
                                         ORDER BY fp, doc_id) AS rk
            FROM clean) WHERE rk <= 30),
        packed AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_selected,
                 CAST(MAX((cum - n_words) // 512) + 1 AS BIGINT) AS n_packs,
                 CAST(SUM(n_words) AS BIGINT) AS tokens_selected
          FROM sel GROUP BY source),
        c_raw AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw
                  FROM raw GROUP BY source),
        c_dedup AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_dedup
                    FROM dedup GROUP BY source),
        c_quality AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_quality
                      FROM quality GROUP BY source),
        c_clean AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_clean
                    FROM clean GROUP BY source)
        SELECT source, n_raw, n_dedup, n_quality, n_clean,
               n_selected, n_packs, tokens_selected
        FROM c_raw JOIN c_dedup USING (source)
        JOIN c_quality USING (source) JOIN c_clean USING (source)
        JOIN packed USING (source)
        ORDER BY source""")),

    // --------------------------------------------------------------- q191
    // Distribution matching by rejection sampling — flatten the corpus's
    // document-length distribution to its rarest bucket (the anti-bias
    // resample run before length-sensitive training): each 256-char
    // bucket gets an acceptance threshold t_b = c_min·2²⁰ ÷ c_b, and a
    // document is kept iff its content-hash coin (graft_polyhash mod
    // 2²⁰ — seed-free, engine-reproducible, stable under repartition)
    // lands under its bucket's threshold, so every bucket keeps ≈ c_min
    // docs in expectation and exactly the same docs in both engines.
    // Scale shape: pass 1 is a map-side-combining bucket count (bounded
    // rows), the thresholds broadcast back, and pass 2 is one narrow
    // codegen map — the corpus itself never shuffles.
    QueryDef(
      "q191_distribution_matching",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            expr("n_chars div 256").as("bucket"))
        val counts = d.groupBy("bucket").agg(count(lit(1)).as("c"))
        val cmin = counts.agg(min("c").as("c_min"))
        val th = counts.crossJoin(broadcast(cmin))
          .select(col("bucket"), col("c"),
            expr("c_min * 1048576 div c").as("t"))
        d.join(broadcast(th), "bucket")
          .withColumn("admit",
            call_function("graft_polyhash", col("text")) % 1048576 < col("t"))
          .groupBy("bucket", "c", "t")
          .agg(expr("count_if(admit)").as("n_kept"),
            sum(when(col("admit"), col("doc_id"))).as("kept_id_sum"))
          .select(col("bucket"), col("c").as("n_docs"),
            col("t").as("threshold"), col("n_kept"), col("kept_id_sum"))
          .orderBy("bucket")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, text, n_chars // 256 AS bucket FROM documents),
        counts AS (
          SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
          FROM d GROUP BY bucket),
        th AS (
          SELECT bucket, c,
                 (SELECT MIN(c) FROM counts) * 1048576 // c AS t
          FROM counts),
        coin AS (
          SELECT d.doc_id, d.bucket, th.c, th.t,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, length(d.text) + 1),
                       i -> CAST(unicode(d.text[i]) AS BIGINT))),
                   (acc, ch) -> (acc * 31 + ch) % 1000000007) % 1048576 AS h
          FROM d JOIN th ON d.bucket = th.bucket)
        SELECT bucket, c AS n_docs, CAST(t AS BIGINT) AS threshold,
               CAST(count_if(h < t) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN h < t THEN doc_id END) AS BIGINT)
                 AS kept_id_sum
        FROM coin
        GROUP BY bucket, c, t
        ORDER BY bucket""")),

    // --------------------------------------------------------------- q193
    // Unigram surprisal scoring — the perplexity-proxy quality filter
    // run when no language model is at hand: a document full of rare
    // tokens scores high (gibberish/OCR noise), one full of corpus-
    // typical tokens scores low. Kept EXACT by measuring information in
    // whole bits via floor(log2): floor_log2(x) = length(bin(x)) − 1 is
    // pure integer in both engines (no float log to disagree on), and a
    // token's surprisal is floor_log2(corpus_tokens) − floor_log2(count).
    // Scale shape: the frequency table is the slim side of the one
    // token-keyed join (vocab-sized — broadcastable at moderate vocab,
    // AQE decides); the corpus-total scalar rides in as a broadcast
    // one-row aggregate (the q58 discipline, no driver materialization);
    // the per-doc rollup partial-aggregates map-side.
    QueryDef(
      "q193_surprisal_score",
      (s, dir) => {
        val toks = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cnts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        val total = cnts.agg(sum("cnt").as("n"))
          .select(expr("length(bin(n)) - 1").as("ln"))
        toks.join(cnts, "tok")
          .crossJoin(broadcast(total))
          .select(col("doc_id"), col("source"),
            expr("ln - (length(bin(cnt)) - 1)").as("bits"))
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_toks"),
            sum("bits").as("surprisal_bits"))
          .withColumn("bpt_milli",
            expr("surprisal_bits * 1000 div n_toks"))
          .orderBy("doc_id")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        t AS (SELECT doc_id, source, tok FROM toks WHERE tok <> ''),
        cnts AS (
          SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY tok),
        nn AS (
          SELECT CAST(length(bin(CAST(SUM(cnt) AS BIGINT))) - 1 AS BIGINT)
            AS ln FROM cnts),
        sc AS (
          SELECT t.doc_id, t.source,
                 nn.ln - (length(bin(c.cnt)) - 1) AS bits
          FROM t JOIN cnts c ON t.tok = c.tok CROSS JOIN nn)
        SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_toks,
               CAST(SUM(bits) AS BIGINT) AS surprisal_bits,
               CAST(SUM(bits) * 1000 // COUNT(*) AS BIGINT) AS bpt_milli
        FROM sc
        GROUP BY doc_id, source
        ORDER BY doc_id"""))
  ,

    // --------------------------------------------------------------- q232
    // INCREMENTAL decontamination — q66 ∘ q107's delta pattern: q66
    // re-scans the full corpus per benchmark release; a production
    // pipeline decontaminates deltas. Standing state: the base corpus's
    // distinct-5-gram index and the v1 benchmark's verdicts against it.
    // Two deltas arrive in one tick: a NEW CORPUS BATCH (docs with
    // doc_id % 4 = 1) and a NEW BENCHMARK RELEASE (v2, the 17-stride
    // slice). The delta algebra touches only deltas:
    //   - standing v1 grams that MISSED the base index probe the batch
    //     grams (hits can only grow; base-hit instances never re-probe);
    //   - v2 grams probe the standing index, and only its misses probe
    //     the batch grams;
    // so per-tick join work is O(|batch grams| + |new bench grams| +
    // |standing misses|), never O(corpus). The oracle is the FULL
    // RECOMPUTE (v1 ∪ v2 against base ∪ batch), so a missing delta term
    // cannot hash-match. 100 TB shape: the standing gram index is a
    // persisted artifact bucketed by gram (here: a cached frame); both
    // probes are semi joins on the gram key; the bench side is tiny and
    // broadcast-eligible.
    QueryDef(
      "q232_incremental_decontamination",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        def grams(df: org.apache.spark.sql.DataFrame, idCols: Seq[String]) =
          df.select(idCols.map(col) :+
            explode(call_function("graft_word_ngrams", col("text"), lit(5))).as("g"): _*)
        val base = d.filter(col("doc_id") % 4 =!= 1)
        val batch = d.filter(col("doc_id") % 4 === 1)
        val benchV1 = d.filter(col("doc_id") % 13 === 0)
          .select(col("doc_id").as("bench_id"), lit("v1").as("release"),
            concat_ws(" ", slice(split(col("text"), " "), 6, 20)).as("text"))
        val benchV2 = d.filter(col("doc_id") % 17 === 0)
          .select(col("doc_id").as("bench_id"), lit("v2").as("release"),
            concat_ws(" ", slice(split(col("text"), " "), 10, 20)).as("text"))
        // standing index + delta index (distinct gram keys only)
        val baseGrams =
          grams(base, Seq("doc_id")).select("g").distinct()
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val batchGrams = grams(batch, Seq("doc_id")).select("g").distinct()
        def verdicts(bench: org.apache.spark.sql.DataFrame) = {
          val bg =
            grams(bench, Seq("bench_id", "release"))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // hit-in-base instances settle against the standing index;
          // ONLY the misses re-probe the delta
          val hitBase = bg.join(baseGrams, Seq("g"), "left_semi")
          val missBase = bg.join(baseGrams, Seq("g"), "left_anti")
          val hitBatch = missBase.join(batchGrams, Seq("g"), "left_semi")
          val hits = hitBase.unionByName(hitBatch)
            .groupBy("bench_id", "release").agg(count(lit(1)).as("n_hit"))
          bg.groupBy("bench_id", "release").agg(count(lit(1)).as("n_grams"))
            .join(hits, Seq("bench_id", "release"), "left")
            .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
        }
        verdicts(benchV1).unionByName(verdicts(benchV2))
          .withColumn("hit_permille", expr("n_hit * 1000 div n_grams"))
          .withColumn("contaminated", col("hit_permille") > 500)
          .orderBy("release", "bench_id")
      },
      Some("""
        WITH bench AS (
          SELECT doc_id AS bench_id, 'v1' AS release,
                 array_to_string(string_split(text, ' ')[6:25], ' ') AS text
          FROM documents WHERE doc_id % 13 = 0
          UNION ALL
          SELECT doc_id, 'v2',
                 array_to_string(string_split(text, ' ')[10:29], ' ')
          FROM documents WHERE doc_id % 17 = 0),
        bgrams AS (
          SELECT bench_id, release,
                 UNNEST(list_transform(range(1, len(ws) - 3),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                             ws[i+3] || ' ' || ws[i+4])) AS g
          FROM (SELECT bench_id, release, string_split(text, ' ') AS ws
                FROM bench)),
        cgrams AS (
          SELECT DISTINCT UNNEST(list_transform(range(1, len(ws) - 3),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                             ws[i+3] || ' ' || ws[i+4])) AS g
          FROM (SELECT string_split(text, ' ') AS ws FROM documents)),
        agg AS (
          SELECT bench_id, release,
                 COUNT(*) AS n_grams,
                 COUNT(CASE WHEN g IN (SELECT g FROM cgrams) THEN 1 END) AS n_hit
          FROM bgrams
          GROUP BY bench_id, release)
        SELECT bench_id, release, n_grams, n_hit,
               n_hit * 1000 // n_grams AS hit_permille,
               (n_hit * 1000 // n_grams) > 500 AS contaminated
        FROM agg
        ORDER BY release, bench_id"""))
  ,

    // --------------------------------------------------------------- q236
    // Largest-remainder (Hamilton) quota allocation — the integer-exact
    // answer to "split a 1000-doc eval budget across sources
    // proportionally": floating 'n·N/T rounded' quotas famously fail to
    // sum to N (the apportionment paradox); the largest-remainder
    // method floors every quota (n·N div T), then hands the leftover
    // seats one each to the largest remainders (source asc on ties), so
    // Σ final = N EXACTLY and both engines agree bit-for-bit — no float
    // ever computed. The whole allocation lives on the SOURCE-level
    // frame (bounded cardinality — it does not grow with SF), so the
    // one all-rows remainder-rank window and the two single-row
    // broadcast totals are metadata-sized at any corpus scale; the only
    // corpus-wide work is the per-source count.
    QueryDef(
      "q236_largest_remainder_allocation",
      (s, dir) => {
        val counts = Tables(s, dir, "documents")
          .groupBy("source").agg(count(lit(1)).as("n"))
        val tot = counts.agg(sum("n").as("t"))
        val based = counts.crossJoin(broadcast(tot))
          .withColumn("base_quota", expr("n * 1000 div t"))
          .withColumn("remainder", expr("n * 1000 % t"))
        val leftover = based
          .agg((lit(1000L) - sum("base_quota")).as("leftover"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("remainder").desc, col("source"))
        based.crossJoin(broadcast(leftover))
          .withColumn("rk", row_number().over(w))
          .withColumn("extra", when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .select(col("source"), col("n"), col("base_quota"),
            col("remainder"), col("extra"),
            (col("base_quota") + col("extra")).as("final_quota"))
          .orderBy("source")
      },
      Some("""
        WITH counts AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n
          FROM documents GROUP BY source),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts),
        based AS (
          SELECT source, n,
                 n * 1000 // t AS base_quota,
                 n * 1000 % t AS remainder
          FROM counts CROSS JOIN tot),
        lo AS (SELECT 1000 - CAST(SUM(base_quota) AS BIGINT) AS leftover
               FROM based),
        ranked AS (
          SELECT *, row_number() OVER (ORDER BY remainder DESC, source) AS rk
          FROM based)
        SELECT source, n, base_quota, remainder,
               CAST(CASE WHEN rk <= (SELECT leftover FROM lo)
                    THEN 1 ELSE 0 END AS BIGINT) AS extra,
               base_quota + CASE WHEN rk <= (SELECT leftover FROM lo)
                    THEN 1 ELSE 0 END AS final_quota
        FROM ranked
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q242
    // Cross-source quantile normalization — the calibration step before
    // mixing scores from heterogeneous feeds: each source's raw quality
    // score (here: text length) maps onto the POOLED distribution by
    // rank — doc at within-source rank r of n_src lands on the pooled
    // order statistic at position ⌈r·N/n_src⌉ — so a "top-10%" doc
    // means the same thing in every source regardless of each feed's
    // score scale. All integer: within-source ranks ride a KEYED
    // window; the pooled rank is the ONE global ordering in the query
    // and rides the two-pass range-partitioned prefix sum
    // (`Statistics.prefixSums` over an order-preserving composite key —
    // no global-ORDER window anywhere); the position lookup is an
    // equi-join on pooled rank. Ties break on doc_id in both engines.
    QueryDef(
      "q242_quantile_normalization",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            length(col("text")).cast("long").as("score"))
        val wSrc = Window.partitionBy("source").orderBy("score", "doc_id")
        val cSrc = Window.partitionBy("source")
        val ranked = d
          .withColumn("src_rank", row_number().over(wSrc).cast("long"))
          .withColumn("n_src", count(lit(1)).over(cSrc))
        // pooled order statistics: rank 1..N over (score, doc_id) via the
        // composite key (score ≤ ~10³, doc_id < 10⁷ — injective, order-
        // preserving), never an unkeyed row_number window
        val pooled = Statistics.prefixSums(
          d.select(col("score").as("g_score"),
            (col("score") * 10000000L + col("doc_id")).as("skey"),
            lit(1L).as("one")),
          "skey", Seq("one"))
          .select(col("cum_one").as("grank"), col("g_score"))
        val total = d.agg(count(lit(1)).as("n_total"))
        ranked.crossJoin(broadcast(total))
          .withColumn("pool_pos",
            expr("(src_rank * n_total + n_src - 1) div n_src"))
          .join(pooled, col("pool_pos") === col("grank"))
          .select(col("doc_id"), col("source"), col("score"),
            col("src_rank"), col("pool_pos"), col("g_score").as("norm_score"))
          .orderBy("doc_id")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, source, CAST(length(text) AS BIGINT) AS score
          FROM documents),
        ranked AS (
          SELECT doc_id, source, score,
                 CAST(row_number() OVER (PARTITION BY source
                        ORDER BY score, doc_id) AS BIGINT) AS src_rank,
                 CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
          FROM d),
        pooled AS (
          SELECT CAST(row_number() OVER (ORDER BY score, doc_id) AS BIGINT)
                   AS grank,
                 score AS g_score
          FROM d),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM d)
        SELECT r.doc_id, r.source, r.score, r.src_rank,
               (r.src_rank * t.n_total + r.n_src - 1) // r.n_src AS pool_pos,
               p.g_score AS norm_score
        FROM ranked r CROSS JOIN tot t
        JOIN pooled p
          ON p.grank = (r.src_rank * t.n_total + r.n_src - 1) // r.n_src
        ORDER BY r.doc_id"""))
  ,

    // --------------------------------------------------------------- q244
    // Greedy coverage-based data selection — submodular subset selection
    // (the facility-location/coverage family the data-pruning literature
    // uses): pick 5 documents that greedily maximize 3-GRAM coverage
    // (the fixture's word vocabulary is only ~31 tokens — one doc covers
    // it — so the coverage universe is distinct word 3-grams, thousands
    // strong and the unit passage-level selection actually optimizes),
    // each round electing the doc with the most still-uncovered distinct
    // grams (tie: min doc_id), then folding its grams into the covered
    // set. Greedy is deterministic, so both engines
    // agree row-for-row; the oracle unrolls the same 5 rounds as
    // MATERIALIZED CTEs generated from the same loop (the q192
    // discipline). Scale shape per round: one LEFT ANTI join of the
    // term table against the covered set (covered grows by ≤ one doc's
    // vocabulary per round — slim, broadcastable), one keyed count, one
    // TakeOrdered(1) argmax; the term table is built and persisted
    // ONCE. The winner id is a per-round driver scalar — the q106
    // nNodes discipline, metadata-sized by construction.
    QueryDef(
      "q244_coverage_selection",
      (s, dir) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        // spread (r14, guide §2.5): single-row-group scan = one-task
        // explode; the term table is the loop's only corpus-sized input
        val terms = graft.Tables.spread(
              Tables(s, dir, "documents").select("doc_id", "text"),
              col("doc_id"))
          .select(col("doc_id"),
            explode(call_function("graft_word_ngrams", col("text"), lit(3))).as("w"))
          .distinct()
          .persist(MEMORY_AND_DISK)
        var covered: org.apache.spark.sql.DataFrame = null
        var picked = List.empty[Long]
        val rows: Seq[(Long, Long, Long, Long)] = (1 to 5).map { round =>
          val candidates =
            if (picked.isEmpty) terms
            else terms.filter(!col("doc_id").isInCollection(picked))
              .join(covered, Seq("w"), "left_anti")
          val win = candidates.groupBy("doc_id")
            .agg(count(lit(1)).as("gain"))
            .orderBy(col("gain").desc, col("doc_id"))
            .limit(1).head()
          val (wid, gain) = (win.getLong(0), win.getLong(1))
          picked ::= wid
          val winTerms = terms.filter(col("doc_id") === wid).select("w")
          covered = (if (covered == null) winTerms
             else covered.unionByName(winTerms).distinct())
              .persist(MEMORY_AND_DISK)
          val total = covered.count()
          (round.toLong, wid, gain, total)
        }
        import s.implicits._
        rows.toDF("round", "picked_doc", "gain", "covered_total")
          .orderBy("round")
      },
      Some {
        // the oracle's 5 rounds unroll from the same greedy loop
        val rounds = (1 to 5).map { r =>
          val prevPicked =
            if (r == 1) "SELECT CAST(NULL AS BIGINT) AS doc_id WHERE 1 = 0"
            else (1 until r).map(i => s"SELECT doc_id FROM w$i").mkString(" UNION ALL ")
          val prevCovered =
            if (r == 1) "SELECT CAST(NULL AS VARCHAR) AS w WHERE 1 = 0"
            else (1 until r).map(i => s"SELECT w FROM c$i").mkString(" UNION ")
          s"""
        p$r AS MATERIALIZED ($prevPicked),
        cov$r AS MATERIALIZED ($prevCovered),
        w$r AS MATERIALIZED (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
          FROM t2
          WHERE doc_id NOT IN (SELECT doc_id FROM p$r WHERE doc_id IS NOT NULL)
            AND w NOT IN (SELECT w FROM cov$r WHERE w IS NOT NULL)
          GROUP BY doc_id
          ORDER BY gain DESC, doc_id LIMIT 1),
        c$r AS MATERIALIZED (
          SELECT DISTINCT w FROM t2
          WHERE doc_id IN (SELECT doc_id FROM w$r)
             OR w IN (SELECT w FROM cov$r WHERE w IS NOT NULL))"""
        }.mkString(",")
        val sels = (1 to 5).map(r =>
          s"""SELECT $r AS round, (SELECT doc_id FROM w$r) AS picked_doc,
                (SELECT gain FROM w$r) AS gain,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM c$r) AS covered_total"""
        ).mkString(" UNION ALL ")
        s"""
        WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
                    FROM documents),
        t2 AS MATERIALIZED (
          SELECT DISTINCT doc_id,
                 UNNEST(list_transform(range(1, len(w) - 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS w
          FROM ws WHERE len(w) >= 3),
        $rounds
        SELECT CAST(round AS BIGINT) AS round, picked_doc, gain, covered_total
        FROM ($sels) z
        ORDER BY round"""
      })
  ,

    // --------------------------------------------------------------- q257
    // Token-budget WATER-FILLING under per-source epoch caps — the
    // mixture-planning step between q236 (largest-remainder seat
    // allocation) and q86 (temperature sampling): a training budget of
    // 2× the corpus is split proportionally to source size, but each
    // source may repeat at most `tier` epochs (4/2/1 by lexical-
    // diversity rank — the "repeat small high-quality sources, don't
    // loop boilerplate" recipe), and budget bouncing off a cap
    // redistributes among still-uncapped sources over 3 proportional
    // rounds. All integer: allocations in tokens, truncation dust
    // REPORTED as leftover_tokens (stated, not hidden), epochs in
    // milli-epochs. Scale shape: the state table is one row per SOURCE
    // (metadata-sized at any corpus scale); per-round sums ride as
    // single-row broadcasts — no driver collect anywhere, the 3-round
    // chain is one lazy plan; the only corpus-sized work is the one
    // token/distinct-word scan. (At 100 TB the R·n products exceed
    // int64 — route through DECIMAL(38); stated here, exact at fixture
    // scale.) The ranking window is unkeyed but bounded at the source
    // count (the q236 precedent). Oracle unrolls the same 3 rounds.
    QueryDef(
      "q257_epoch_waterfill_allocation",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        val words = Tables(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
        val perSrc = words.groupBy("source")
          .agg(count(lit(1)).as("n"), countDistinct(col("w")).as("dw"))
          .withColumn("ttr_permille", expr("dw * 1000 div n"))
        val wr = Window.orderBy(col("ttr_permille").desc, col("source")) // ≤ sources rows by construction
        val t0 = perSrc
          .withColumn("rk", row_number().over(wr))
          .withColumn("tier",
            when(col("rk") <= 7, 4L).when(col("rk") <= 14, 2L).otherwise(1L))
          .withColumn("cap", col("tier") * col("n"))
          .select("source", "n", "ttr_permille", "tier", "cap")
          .persist(MEMORY_AND_DISK)
        val budget = t0.agg((sum("n") * 2).as("b"))
        var st = t0.crossJoin(broadcast(budget))
          .withColumn("capped", lit(false))
          .withColumn("alloc", lit(0L))
        for (_ <- 1 to 3) {
          val sums = st.agg(
            sum(when(!col("capped"), col("n"))).as("s_unc"),
            sum(when(col("capped"), col("cap")).otherwise(lit(0L))).as("used"))
          st = st.crossJoin(broadcast(sums))
            .withColumn("prop",
              expr("(b - used) * n div nullif(s_unc, 0)"))
            .withColumn("alloc",
              when(col("capped"), col("cap"))
                .when(col("prop").isNull, lit(0L))
                .when(col("prop") >= col("cap"), col("cap"))
                .otherwise(col("prop")))
            .withColumn("capped", col("capped") ||
              (col("prop").isNotNull && col("prop") >= col("cap")))
            .drop("s_unc", "used", "prop")
        }
        val leftover = st.agg((max("b") - sum("alloc")).as("leftover_tokens"))
        st.crossJoin(broadcast(leftover))
          .select(col("source"), col("n").as("n_tokens"), col("ttr_permille"),
            col("tier").as("epoch_cap"), col("cap").as("cap_tokens"),
            col("alloc").as("alloc_tokens"),
            expr("alloc * 1000 div n").as("epochs_milli"),
            col("capped"), col("leftover_tokens"))
          .orderBy("source")
      },
      Some("""
        WITH w AS (
          SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        ps AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(COUNT(DISTINCT w) AS BIGINT) AS dw
          FROM w GROUP BY source),
        t0 AS MATERIALIZED (
          SELECT source, n, dw * 1000 // n AS ttr_permille,
                 CAST(CASE WHEN rk <= 7 THEN 4
                           WHEN rk <= 14 THEN 2 ELSE 1 END AS BIGINT) AS tier,
                 CAST(CASE WHEN rk <= 7 THEN 4
                           WHEN rk <= 14 THEN 2 ELSE 1 END AS BIGINT) * n
                   AS cap
          FROM (SELECT *, row_number() OVER (ORDER BY dw * 1000 // n DESC,
                                             source) AS rk
                FROM ps)),
        b AS (SELECT CAST(SUM(n) * 2 AS BIGINT) AS b FROM t0),
        r1 AS (
          SELECT t0.*,
                 (SELECT b FROM b) * n
                   // NULLIF((SELECT SUM(n) AS sn FROM t0), 0) AS prop
          FROM t0),
        s1 AS MATERIALIZED (
          SELECT source, n, ttr_permille, tier, cap,
                 prop IS NOT NULL AND prop >= cap AS capped,
                 CAST(CASE WHEN prop IS NULL THEN 0
                           WHEN prop >= cap THEN cap
                           ELSE prop END AS BIGINT) AS alloc
          FROM r1),
        r2 AS (
          SELECT s1.*,
                 ((SELECT b FROM b)
                   - (SELECT COALESCE(SUM(cap), 0) FROM s1 WHERE capped)) * n
                   // NULLIF((SELECT SUM(n) AS sn FROM s1 WHERE NOT capped), 0)
                   AS prop
          FROM s1),
        s2 AS MATERIALIZED (
          SELECT source, n, ttr_permille, tier, cap,
                 capped OR (prop IS NOT NULL AND prop >= cap) AS capped,
                 CAST(CASE WHEN capped THEN cap
                           WHEN prop IS NULL THEN 0
                           WHEN prop >= cap THEN cap
                           ELSE prop END AS BIGINT) AS alloc
          FROM r2),
        r3 AS (
          SELECT s2.*,
                 ((SELECT b FROM b)
                   - (SELECT COALESCE(SUM(cap), 0) FROM s2 WHERE capped)) * n
                   // NULLIF((SELECT SUM(n) AS sn FROM s2 WHERE NOT capped), 0)
                   AS prop
          FROM s2),
        s3 AS MATERIALIZED (
          SELECT source, n, ttr_permille, tier, cap,
                 capped OR (prop IS NOT NULL AND prop >= cap) AS capped,
                 CAST(CASE WHEN capped THEN cap
                           WHEN prop IS NULL THEN 0
                           WHEN prop >= cap THEN cap
                           ELSE prop END AS BIGINT) AS alloc
          FROM r3),
        lo AS (SELECT (SELECT b FROM b) - CAST(SUM(alloc) AS BIGINT)
                 AS leftover_tokens FROM s3)
        SELECT source, n AS n_tokens, ttr_permille, tier AS epoch_cap,
               cap AS cap_tokens, alloc AS alloc_tokens,
               alloc * 1000 // n AS epochs_milli, capped,
               (SELECT leftover_tokens FROM lo) AS leftover_tokens
        FROM s3
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q260
    // CURRICULUM batch assembly — the loader-side shaping between
    // q104's length-bucket batches and q78's packing: docs rank
    // globally by a difficulty proxy (word count, doc_id tiebreak),
    // split into 10 difficulty deciles, and batch b interleaves the
    // b-th member of EACH decile — so every batch spans the full
    // difficulty spectrum (anti-curriculum mixing, the "don't feed the
    // model a length-sorted epoch" rule). The global rank rides the
    // established range-partitioned two-pass prefix sum
    // (Statistics.prefixSums — per-partition cumsum under a pid-KEYED
    // window + a bounded 32-row offset table; the only unkeyed window
    // in the plan is that offset table), never a corpus-wide
    // row_number; within-decile order is a decile-KEYED window. Output
    // is the per-batch audit: size, decile coverage, difficulty range —
    // a single misplaced doc breaks the hash.
    QueryDef(
      "q260_curriculum_batches",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("nw"))
          // collision-free composite order key: nw then doc_id
          .withColumn("k", col("nw") * 1000000L + col("doc_id"))
          .withColumn("one", lit(1L))
        val n = d.count() // metadata scalar (one row count, q244 discipline)
        val ranked = Statistics.prefixSums(d, "k", Seq("one"))
          .withColumn("decile", expr(s"(cum_one - 1) * 10 div $n"))
        val wd = Window.partitionBy("decile").orderBy("k")
        ranked.withColumn("batch_id", row_number().over(wd).cast("long"))
          .groupBy("batch_id")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("decile")).as("n_deciles"),
            min("nw").as("min_words"), max("nw").as("max_words"),
            sum("nw").as("sum_words"))
          .orderBy("batch_id")
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
                 CAST(len(string_split(text, ' ')) AS BIGINT) * 1000000
                   + doc_id AS k
          FROM documents),
        r AS (
          SELECT doc_id, nw, k,
                 row_number() OVER (ORDER BY k) AS rn,
                 (SELECT COUNT(*) FROM d) AS n
          FROM d),
        dec AS (
          SELECT doc_id, nw, k, (rn - 1) * 10 // n AS decile FROM r),
        b AS (
          SELECT nw, decile,
                 row_number() OVER (PARTITION BY decile ORDER BY k)
                   AS batch_id
          FROM dec)
        SELECT CAST(batch_id AS BIGINT) AS batch_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT decile) AS BIGINT) AS n_deciles,
               CAST(MIN(nw) AS BIGINT) AS min_words,
               CAST(MAX(nw) AS BIGINT) AS max_words,
               CAST(SUM(nw) AS BIGINT) AS sum_words
        FROM b
        GROUP BY batch_id
        ORDER BY batch_id"""))
  ,

    // --------------------------------------------------------------- q264
    // DSIR-style IMPORTANCE-WEIGHTED data selection (Xie et al. 2023,
    // "Data Selection for Language Models via Importance Resampling"):
    // score each document by the log-ratio of a TARGET distribution to
    // the RAW corpus distribution over hashed n-gram features, keep the
    // target-leaning docs. Target sample = the seed-rule positives
    // (q255's lexical-diversity label standing in for "quality text like
    // Wikipedia"); features = the same md5-hashed char-3gram buckets.
    // Per bucket the normalized smoothed importance ratio lives in
    // linear-domain ppm, centered at its neutral point:
    //   lr_ppm = (t_b+1)·R·10⁶ div ((r_b+1)·T) − 10⁶
    // so lr_ppm = 0 means "bucket matches the target mix" and a doc's
    // score is the SUM of its gram-occurrence deviations (the paper
    // scores log-ratios for float stability; whole-bit integer logs
    // quantize every bucket to ±1 bit and the floor's one-sided
    // rounding drives all scores negative — the linear-ppm deviation
    // sum is the exact-integer formulation that keeps the ranking
    // granular, measured against the same target/raw evidence).
    // Keep = score > 0; the per-source report cross-tabs kept
    // against the seed label so the selection's agreement with its
    // target definition is audited output. Shape: the bucket table is
    // 4096 rows (broadcast), totals ride a single-row cross join, the
    // corpus is touched by one narrow explode + one broadcast join +
    // keyed aggregates — no shuffle of text. The ·R·10⁶ product needs
    // DECIMAL(38) beyond ~10⁸ gram occurrences — stated, fixture-safe
    // in BIGINT.
    QueryDef(
      "q264_dsir_importance_selection",
      (s, dir) => {
        // session-shared gram frame (ClassifierArtifacts): built once,
        // consumed by q255/q262/q264/q268/s39
        val g = ClassifierArtifacts.grams(s, dir)
        val bt = g.groupBy("b").agg(count(lit(1)).as("r"),
          sum(when(col("good"), 1L).otherwise(0L)).as("t"))
        val tot = g.agg(count(lit(1)).as("rt"),
          sum(when(col("good"), 1L).otherwise(0L)).as("tt"))
        val lr = bt.crossJoin(broadcast(tot)).select(col("b"),
          expr("(t + 1) * rt * 1000000 div ((r + 1) * tt) - 1000000")
            .as("lr_ppm"))
        g.join(broadcast(lr), "b")
          .groupBy("doc_id", "source", "good")
          .agg(sum("lr_ppm").as("score_ppm"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("score_ppm") > 0L, 1L).otherwise(0L)).as("n_keep"),
            sum(when(col("score_ppm") > 0L && col("good"), 1L)
              .otherwise(0L)).as("kept_good"),
            sum("score_ppm").as("sum_ppm"))
          .select(col("source"), col("n_docs"), col("n_keep"),
            expr("n_keep * 1000000 div n_docs").as("keep_ppm"),
            col("kept_good"),
            expr("sum_ppm div n_docs").as("mean_ppm"))
          .orderBy("source")
      },
      Some("""
        WITH g AS MATERIALIZED (
          SELECT doc_id, source,
                 2 * len(list_distinct(string_split(text, ' ')))
                   >= len(string_split(text, ' ')) AS good,
                 CAST(concat('0x', substr(md5(gr), 1, 15)) AS BIGINT) % 4096
                   AS b
          FROM (SELECT doc_id, source, text,
                       unnest(list_transform(range(1, length(text) - 1),
                         i -> substring(text, i, 3))) AS gr
                FROM documents)),
        bt AS MATERIALIZED (
          SELECT b, CAST(COUNT(*) AS BIGINT) AS r,
                 CAST(count_if(good) AS BIGINT) AS t
          FROM g GROUP BY b),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS rt,
                       CAST(count_if(good) AS BIGINT) AS tt
                FROM g),
        lr AS MATERIALIZED (
          SELECT b,
                 (t + 1) * rt * 1000000 // ((r + 1) * tt) - 1000000
                   AS lr_ppm
          FROM bt CROSS JOIN tot),
        pd AS (
          SELECT g.doc_id, g.source, g.good,
                 CAST(SUM(lr_ppm) AS BIGINT) AS score_ppm
          FROM g JOIN lr USING (b)
          GROUP BY g.doc_id, g.source, g.good)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(count_if(score_ppm > 0) AS BIGINT) AS n_keep,
               CAST(count_if(score_ppm > 0) AS BIGINT) * 1000000
                 // COUNT(*) AS keep_ppm,
               CAST(count_if(score_ppm > 0 AND good) AS BIGINT)
                 AS kept_good,
               CAST(SUM(score_ppm) AS BIGINT) // COUNT(*) AS mean_ppm
        FROM pd
        GROUP BY source
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q266
    // PREFERENCE-PAIR mining — the DPO/RLHF data-prep step: from each
    // source, pair the k-th best document with the k-th worst by an
    // integer quality score (TTR ppm — the deterministic stand-in for a
    // reward model), keep pairs with a strictly positive margin. The
    // extreme-pairing rule (best↔worst, 2nd↔2nd-worst, …) is the
    // max-margin assembly a preference dataset wants, and it is pure
    // rank arithmetic: one row_number per source (keyed window — one
    // exchange), the k-th-worst side is the SAME ranking re-keyed as
    // n−r+1, and the pairing is an equi-join on (source, k) — no
    // all-pairs, no second sort. Zero-margin pairs carry no preference
    // signal and are dropped (stated). 100 TB: everything is keyed by
    // source; a source's pair list shuffles only its own ranks.
    QueryDef(
      "q266_preference_pairs",
      (s, dir) => {
        preferencePairs(s, dir)
          .withColumn("margin_ppm", col("chosen_ppm") - col("rejected_ppm"))
          .filter(col("margin_ppm") > 0L)
          .select("source", "k", "chosen_id", "rejected_id", "margin_ppm")
          .orderBy("source", "k")
      },
      Some("""
        WITH sc AS (
          SELECT doc_id, source,
                 len(list_distinct(string_split(text, ' '))) * 1000000
                   // len(string_split(text, ' ')) AS ttr_ppm
          FROM documents),
        rk AS (
          SELECT doc_id, source, ttr_ppm,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY ttr_ppm DESC, doc_id) AS BIGINT) AS r,
                 CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
          FROM sc),
        ch AS (SELECT source, r AS k, doc_id AS chosen_id,
                      ttr_ppm AS chosen_ppm
               FROM rk WHERE r * 2 <= n),
        rj AS (SELECT source, n - r + 1 AS k, doc_id AS rejected_id,
                      ttr_ppm AS rejected_ppm
               FROM rk)
        SELECT source, k, chosen_id, rejected_id,
               chosen_ppm - rejected_ppm AS margin_ppm
        FROM ch JOIN rj USING (source, k)
        WHERE chosen_ppm - rejected_ppm > 0
        ORDER BY source, k"""))
  ,

    // --------------------------------------------------------------- q272
    // BOUNDARY-RESPECTING sequence packing with waste accounting
    // (VERDICT r8 item 6) — the second packing regime next to q78's
    // concat-and-chunk: here a document NEVER spans two sequences (the
    // instruction-tuning / contrastive-batch constraint, where attention
    // must not cross examples), so padding and truncation become real
    // costs and this operator PRICES them. Greedy length-bucketed
    // first-fit made deterministic and cluster-exact: each doc is
    // truncated to the L=512 budget (loss accounted), assigned the
    // smallest power-of-two bucket >= its kept length via integer bit
    // arithmetic (length(bin(kept-1)) — no floats, both engines), and
    // packed L div bucket per sequence within its (source, bucket) by a
    // KEYED row_number window — never corpus-wide (the q268/q242
    // discipline). Within a bucket every sequence but the ragged last is
    // full, so the packing is first-fit-optimal per bucket; the report
    // carries util_ppm (kept / (n_seqs·L)) and trunc_ppm (lost / total)
    // per source — the two losses a pretraining pipeline trades when
    // picking L. 100 TB: one narrow projection + keyed window + two
    // keyed aggregates; text itself never shuffles, only (source,
    // bucket, kept) triples.
    QueryDef(
      "q272_bucketed_pack_accounting",
      (s, dir) => packReport(
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            expr("size(filter(split(text, ' '), w -> w <> ''))")
              .cast("long").as("nt"))),
      Some(packAccountingOracle))
  ,

    // --------------------------------------------------------------- q273
    // REWARD-MODEL pairwise evaluation — the check an RLHF/DPO data
    // pipeline runs before trusting a scorer to rank training pairs:
    // over q266's preference pairs (chosen = top-TTR doc at rank k,
    // rejected = its mirror from the bottom), does an INDEPENDENT
    // reward model — here q255's hashed-ngram classifier score, drawn
    // from the session-shared ClassifierArtifacts — agree with the
    // preference direction? Pairwise accuracy is THE reward-model
    // metric (a scorer that can't order known-good above known-bad
    // pairs cannot supervise a policy), and because the reward here is
    // a different signal than the TTR that built the pairs, agreement
    // is a real measurement, not a tautology. Strict inequality: ties
    // count as disagreement (a constant scorer must score 0). Docs too
    // short to produce a 3-gram have no score and drop via the inner
    // join — stated, identical in both engines. Shape: pair table is
    // rank arithmetic (q266), scores are one broadcast join + keyed
    // aggregate over the SHARED gram frame — nothing corpus-wide is
    // built here at all.
    QueryDef(
      "q273_reward_pairwise_eval",
      (s, dir) => {
        val grams = ClassifierArtifacts.grams(s, dir)
        val wt = ClassifierArtifacts.weights(s, dir)
        val rm = grams.join(broadcast(wt), "b")
          .groupBy("doc_id")
          .agg(expr("sum(w) div count(1)").as("rm_ppm"))
        val pairs = preferencePairs(s, dir)
          .filter(col("chosen_ppm") - col("rejected_ppm") > 0L)
        pairs
          .join(rm.select(col("doc_id").as("chosen_id"),
            col("rm_ppm").as("rm_chosen")), "chosen_id")
          .join(rm.select(col("doc_id").as("rejected_id"),
            col("rm_ppm").as("rm_rejected")), "rejected_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("rm_chosen") > col("rm_rejected"), 1L)
              .otherwise(0L)).as("n_agree"),
            sum(col("rm_chosen") - col("rm_rejected")).as("margin_sum"))
          .select(col("source"), col("n_pairs"), col("n_agree"),
            expr("n_agree * 1000000 div n_pairs").as("accuracy_ppm"),
            expr("margin_sum div n_pairs").as("mean_rm_margin_ppm"))
          .orderBy("source")
      },
      Some("""
        WITH g AS MATERIALIZED (
          SELECT doc_id,
                 CAST(concat('0x', substr(md5(gr), 1, 15)) AS BIGINT) % 4096
                   AS b,
                 good
          FROM (SELECT doc_id,
                       2 * len(list_distinct(string_split(text, ' ')))
                         >= len(string_split(text, ' ')) AS good,
                       unnest(list_transform(range(1, length(text) - 1),
                         i -> substring(text, i, 3))) AS gr
                FROM documents)),
        wt AS MATERIALIZED (
          SELECT b,
                 (CAST(count_if(good) AS BIGINT) + 1) * 1000000
                   // (CAST(COUNT(*) AS BIGINT) + 2) AS w
          FROM g GROUP BY b),
        rm AS MATERIALIZED (
          SELECT doc_id,
                 CAST(SUM(w) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS rm_ppm
          FROM g JOIN wt USING (b) GROUP BY doc_id),
        sc AS (
          SELECT doc_id, source,
                 len(list_distinct(string_split(text, ' '))) * 1000000
                   // len(string_split(text, ' ')) AS ttr_ppm
          FROM documents),
        rk AS (
          SELECT doc_id, source, ttr_ppm,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY ttr_ppm DESC, doc_id) AS BIGINT) AS r,
                 CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
          FROM sc),
        pr AS (
          SELECT ch.source, ch.chosen_id, rj.rejected_id
          FROM (SELECT source, r AS k, doc_id AS chosen_id,
                       ttr_ppm AS chosen_ppm
                FROM rk WHERE r * 2 <= n) ch
          JOIN (SELECT source, n - r + 1 AS k, doc_id AS rejected_id,
                       ttr_ppm AS rejected_ppm
                FROM rk) rj USING (source, k)
          WHERE ch.chosen_ppm - rj.rejected_ppm > 0)
        SELECT pr.source,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(count_if(c.rm_ppm > j.rm_ppm) AS BIGINT) AS n_agree,
               CAST(count_if(c.rm_ppm > j.rm_ppm) AS BIGINT) * 1000000
                 // COUNT(*) AS accuracy_ppm,
               CAST(SUM(c.rm_ppm - j.rm_ppm) AS BIGINT) // COUNT(*)
                 AS mean_rm_margin_ppm
        FROM pr JOIN rm c ON c.doc_id = pr.chosen_id
                JOIN rm j ON j.doc_id = pr.rejected_id
        GROUP BY pr.source
        ORDER BY pr.source"""))
  ,

    // --------------------------------------------------------------- q277
    // Contamination SEVERITY sweep — q66 flipped to the removal-impact
    // side: q66 asks "which benchmark items leak?", this op asks "how
    // much TRAINING data would decontamination remove, per source, at
    // each strictness tier?" — the number that decides whether to drop
    // whole docs (≥10 shared grams), span-mask (3–9), or ignore (1–2),
    // which is how published pipelines actually tier their response
    // (drop / mask / log). Per corpus doc: how many of its DISTINCT
    // 5-grams appear in the benchmark gram set (q66's derived
    // benchmark, so overlap exists by construction); docs bucket into
    // none/low/med/high tiers and roll up per (source, tier) with
    // total hit mass. Shape: grams emit narrowly via the native
    // kernel, the benchmark gram set is the slim join side (semi
    // join — at 100 TB a broadcast of the benchmark suite's grams,
    // which is exactly how production decontamination ships it), one
    // keyed count per doc, bounded tier rollup.
    QueryDef(
      "q277_contamination_severity",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val bg = severityBenchGrams(docs.filter(col("doc_id") % 13 === 0))
        val dgrams = docs
          .select(col("doc_id"),
            explode(array_distinct(
              call_function("graft_word_ngrams", col("text"), lit(5))))
              .as("g"))
        severityReport(docs, dgrams.join(bg, Seq("g"), "left_semi"))
      },
      Some(contaminationSeverityOracle))
  ,

    // --------------------------------------------------------------- q284
    // CHAT-TEMPLATE rendering + loss-mask accounting — the SFT-prep
    // step between raw documents and an instruction-tuning run, which
    // nothing in the suite exercised: documents become conversations
    // (12-word chunks as alternating user/assistant turns — the q79
    // chunking device repurposed as a deterministic turn source),
    // each turn renders through the template '<|role|>text<|end|>'
    // with a fixed 34-char system header per conversation, and the
    // report prices what training actually sees per source: rendered
    // bytes, total vs ASSISTANT-ONLY tokens (the loss mask — SFT
    // trains on assistant tokens only, so mask_ppm IS the fraction of
    // corpus mass that produces gradient), and conversations ending
    // on a user turn (dangling — a trainer drops or truncates them).
    // Turn text is rebuilt order-exactly via the sorted-struct
    // collect (q110's device) ↔ string_agg(ORDER BY); everything
    // else is integer. Shape: one narrow posexplode, then three
    // KEYED aggregates (turn → conversation → source) — each rides
    // its group key, no corpus-wide window, rendered strings never
    // outlive their turn row.
    QueryDef(
      "q284_chat_template_render",
      (s, dir) => {
        val words = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            posexplode(expr("filter(split(text, ' '), w -> w <> '')"))
              .as(Seq("idx", "word")))
        val turns = words
          .withColumn("turn", expr("idx div 12"))
          .groupBy("doc_id", "source", "turn")
          .agg(concat_ws(" ", expr(
            "transform(array_sort(collect_list(struct(idx, word))), s -> s.word)"))
            .as("txt"),
            count(lit(1)).as("nwords"))
          .withColumn("role",
            when(col("turn") % 2 === 0, "user").otherwise("assistant"))
          .withColumn("rendered",
            concat(lit("<|"), col("role"), lit("|>"), col("txt"), lit("<|end|>")))
        val convs = turns.groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_turns"),
            sum(when(col("role") === "assistant", 1L).otherwise(0L))
              .as("n_asst_turns"),
            sum("nwords").as("total_tokens"),
            sum(when(col("role") === "assistant", col("nwords"))
              .otherwise(0L)).as("asst_tokens"),
            (sum(length(col("rendered")).cast("long")) + 34L)
              .as("rendered_chars"))
        convs.groupBy("source")
          .agg(count(lit(1)).as("n_convs"),
            sum("n_turns").as("n_turns"),
            sum("n_asst_turns").as("n_asst_turns"),
            sum("total_tokens").as("total_tokens"),
            sum("asst_tokens").as("asst_tokens"),
            sum("rendered_chars").as("rendered_chars"),
            sum(when(col("n_turns") % 2 === 1, 1L).otherwise(0L))
              .as("n_dangling"))
          .withColumn("mask_ppm",
            expr("asst_tokens * 1000000 div total_tokens"))
          .orderBy("source")
      },
      Some("""
        WITH wl AS (
          SELECT doc_id, source,
                 list_filter(string_split(text, ' '), x -> x <> '') AS ws
          FROM documents),
        w AS (
          SELECT doc_id, source, unnest(ws) AS word,
                 generate_subscripts(ws, 1) - 1 AS idx
          FROM wl),
        t AS (
          SELECT doc_id, source, idx // 12 AS turn,
                 string_agg(word, ' ' ORDER BY idx) AS txt,
                 CAST(COUNT(*) AS BIGINT) AS nwords
          FROM w GROUP BY doc_id, source, idx // 12),
        r AS (
          SELECT doc_id, source, turn, nwords,
                 CASE WHEN turn % 2 = 0 THEN 'user' ELSE 'assistant' END
                   AS role,
                 '<|' ||
                 CASE WHEN turn % 2 = 0 THEN 'user' ELSE 'assistant' END ||
                 '|>' || txt || '<|end|>' AS rendered
          FROM t),
        c AS (
          SELECT doc_id, source,
                 CAST(COUNT(*) AS BIGINT) AS n_turns,
                 CAST(count_if(role = 'assistant') AS BIGINT) AS n_asst_turns,
                 CAST(SUM(nwords) AS BIGINT) AS total_tokens,
                 CAST(SUM(CASE WHEN role = 'assistant' THEN nwords
                               ELSE 0 END) AS BIGINT) AS asst_tokens,
                 CAST(SUM(length(rendered)) AS BIGINT) + 34 AS rendered_chars
          FROM r GROUP BY doc_id, source)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_convs,
               CAST(SUM(n_turns) AS BIGINT) AS n_turns,
               CAST(SUM(n_asst_turns) AS BIGINT) AS n_asst_turns,
               CAST(SUM(total_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(asst_tokens) AS BIGINT) AS asst_tokens,
               CAST(SUM(rendered_chars) AS BIGINT) AS rendered_chars,
               CAST(count_if(n_turns % 2 = 1) AS BIGINT) AS n_dangling,
               CAST(SUM(asst_tokens) AS BIGINT) * 1000000
                 // CAST(SUM(total_tokens) AS BIGINT) AS mask_ppm
        FROM c
        GROUP BY source
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q286
    // CONTEXT-LENGTH truncation curve — the L-selection input BEFORE
    // q272/q276's packing runs at a fixed L=512: for each candidate
    // context length L ∈ {128, 256, 512, 1024, 2048}, the per-source
    // fraction of documents that would be cut and the fraction of
    // token mass lost to truncation. Read together with q281 (vocab
    // curve) these are the two axes a pretraining config fixes first;
    // the curve's knee says where longer context stops buying data.
    // Shape: ONE narrow pass computes per-doc word counts, a 5-row L
    // table cross-joins in (bounded ×5 fan-out), and a single keyed
    // (L, source) aggregate builds the whole curve — no packing, no
    // windows, integer end to end.
    QueryDef(
      "q286_context_length_curve",
      (s, dir) => {
        val lens = Tables(s, dir, "documents")
          .select(col("source"),
            expr("size(filter(split(text, ' '), w -> w <> ''))")
              .cast("long").as("nw"))
          .filter(col("nw") > 0L)
        val ls = Seq(128L, 256L, 512L, 1024L, 2048L)
          .map(l => lit(l).as("ctx_len"))
        lens.crossJoin(
            s.range(1).select(explode(array(ls: _*)).as("ctx_len")))
          .groupBy("ctx_len", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("nw") > col("ctx_len"), 1L).otherwise(0L))
              .as("docs_cut"),
            sum("nw").as("tokens_total"),
            sum(greatest(col("nw") - col("ctx_len"), lit(0L)))
              .as("tokens_trunc"))
          .select(col("ctx_len"), col("source"), col("n_docs"),
            col("docs_cut"),
            expr("docs_cut * 1000000 div n_docs").as("cut_ppm"),
            col("tokens_total"), col("tokens_trunc"),
            expr("tokens_trunc * 1000000 div tokens_total").as("trunc_ppm"))
          .orderBy("ctx_len", "source")
      },
      Some("""
        WITH d AS (
          SELECT source,
                 CAST(len(list_filter(string_split(text, ' '),
                   w -> w <> '')) AS BIGINT) AS nw
          FROM documents),
        d2 AS (SELECT * FROM d WHERE nw > 0),
        ls AS (SELECT CAST(unnest([128, 256, 512, 1024, 2048]) AS BIGINT)
                 AS ctx_len)
        SELECT ctx_len, source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(count_if(nw > ctx_len) AS BIGINT) AS docs_cut,
               CAST(count_if(nw > ctx_len) AS BIGINT) * 1000000
                 // COUNT(*) AS cut_ppm,
               CAST(SUM(nw) AS BIGINT) AS tokens_total,
               CAST(SUM(greatest(nw - ctx_len, 0)) AS BIGINT)
                 AS tokens_trunc,
               CAST(SUM(greatest(nw - ctx_len, 0)) AS BIGINT) * 1000000
                 // CAST(SUM(nw) AS BIGINT) AS trunc_ppm
        FROM d2 CROSS JOIN ls
        GROUP BY ctx_len, source
        ORDER BY ctx_len, source"""))
  ,

    // --------------------------------------------------------------- q288
    // EPOCH RESHUFFLE audit — the deterministic answer to "shuffle the
    // data every epoch" at 100 TB, where a global orderBy(rand()) sort
    // is both non-reproducible and a full-corpus exchange per epoch:
    // epoch e's shard assignment is a pure seed-mixed hash
    // md5(e, doc_id) % 8 — a narrow map any worker computes
    // independently, stable under repartitioning and restart. The
    // audit proves the two properties a trainer needs: (1) BALANCE —
    // per epoch the min/max shard populations and imbalance ppm; (2)
    // MIXING — the fraction of docs landing in the SAME shard as the
    // previous epoch must sit near 1/8 (125000 ppm), i.e. consecutive
    // epochs are genuinely independent permutations, not a rotation.
    // Shape: ONE narrow projection computes all three epoch shards +
    // both stay flags per doc; a stack explodes to (epoch, shard)
    // rows for the 24-row balance aggregate; the stay scalars ride a
    // 3-row bounded join. Nothing global, nothing random.
    QueryDef(
      "q288_epoch_reshuffle_audit",
      (s, dir) => {
        def shard(e: Int) =
          s"cast(conv(substr(md5(concat('e', '$e', ':', " +
            s"cast(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 8"
        val base = Tables(s, dir, "documents")
          .select(col("doc_id"),
            expr(shard(0)).as("s0"), expr(shard(1)).as("s1"),
            expr(shard(2)).as("s2"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val balance = base
          .selectExpr(
            "stack(3, 0L, s0, 1L, s1, 2L, s2) AS (epoch, shard)")
          .groupBy("epoch", "shard").agg(count(lit(1)).as("c"))
          .groupBy("epoch")
          .agg(sum("c").as("n_docs"), min("c").as("min_shard"),
            max("c").as("max_shard"))
          .withColumn("imbalance_ppm",
            expr("(max_shard - min_shard) * 1000000 div n_docs"))
        val stay = base.agg(
            sum(when(col("s0") === col("s1"), 1L).otherwise(0L)).as("st1"),
            sum(when(col("s1") === col("s2"), 1L).otherwise(0L)).as("st2"),
            count(lit(1)).as("n"))
          .selectExpr("stack(3, 0L, CAST(NULL AS BIGINT), " +
            "1L, st1 * 1000000 div n, 2L, st2 * 1000000 div n) " +
            "AS (epoch, stay_from_prev_ppm)")
        balance.join(stay, "epoch")
          .select("epoch", "n_docs", "min_shard", "max_shard",
            "imbalance_ppm", "stay_from_prev_ppm")
          .orderBy("epoch")
      },
      Some("""
        WITH b AS MATERIALIZED (
          SELECT doc_id,
                 CAST(concat('0x', substr(md5(concat('e', '0', ':',
                   CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 8 AS s0,
                 CAST(concat('0x', substr(md5(concat('e', '1', ':',
                   CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 8 AS s1,
                 CAST(concat('0x', substr(md5(concat('e', '2', ':',
                   CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) % 8 AS s2
          FROM documents),
        es AS (
          SELECT CAST(0 AS BIGINT) AS epoch, s0 AS shard FROM b
          UNION ALL SELECT 1, s1 FROM b
          UNION ALL SELECT 2, s2 FROM b),
        pc AS (SELECT epoch, shard, CAST(COUNT(*) AS BIGINT) AS c
               FROM es GROUP BY epoch, shard),
        bal AS (
          SELECT epoch, CAST(SUM(c) AS BIGINT) AS n_docs,
                 CAST(MIN(c) AS BIGINT) AS min_shard,
                 CAST(MAX(c) AS BIGINT) AS max_shard
          FROM pc GROUP BY epoch),
        st AS (
          SELECT CAST(count_if(s0 = s1) AS BIGINT) AS st1,
                 CAST(count_if(s1 = s2) AS BIGINT) AS st2,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM b),
        sv AS (
          SELECT CAST(0 AS BIGINT) AS epoch,
                 CAST(NULL AS BIGINT) AS stay_from_prev_ppm
          FROM st
          UNION ALL SELECT 1, st1 * 1000000 // n FROM st
          UNION ALL SELECT 2, st2 * 1000000 // n FROM st)
        SELECT bal.epoch AS epoch, n_docs, min_shard, max_shard,
               (max_shard - min_shard) * 1000000 // n_docs AS imbalance_ppm,
               stay_from_prev_ppm
        FROM bal JOIN sv ON bal.epoch = sv.epoch
        ORDER BY epoch"""))
  ,

    // --------------------------------------------------------------- q296
    // Successive-halving (ASHA) schedule audit — the hyperparameter/
    // data-recipe search loop a training org runs over candidate
    // configurations: evaluate everything cheaply, halve, evaluate the
    // survivors on more data, repeat. Configs = the 20 sources; rung r
    // scores a config on the NESTED subset doc_id % 8 < 2^r (1/8, 1/4,
    // 1/2, all — the same growing-budget shape as real ASHA rungs;
    // docs_scored charges each rung its full subset, the re-scoring
    // convention, stated). Score = mean doc TTR in ppm, exact via
    // truncating div with nullif-guarded empty cells. Halving 20 → 10
    // → 5 → 3, ties broken by config name so the schedule is
    // deterministic. Report: per config, rungs survived, docs scored,
    // score at its last rung, final rank (0 = eliminated). 100 TB
    // shape: ONE map-side-combinable keyed aggregate compresses the
    // corpus to a ≤ 8-cell-per-config frame; every window after that
    // ranks a ≤ config-count frame — bounded by construction, the only
    // place an unkeyed window is the RIGHT plan.
    QueryDef(
      "q296_successive_halving",
      (s, dir) => {
        val cell = Tables(s, dir, "documents")
          .select(col("source"), (col("doc_id") % 8L).as("m"),
            expr("""size(array_distinct(filter(split(text, ' '),
                      w -> w <> ''))) * 1000000
                    div size(filter(split(text, ' '), w -> w <> ''))""")
              .as("ttr_ppm"))
          .groupBy("source", "m")
          .agg(count(lit(1)).as("c"), sum("ttr_ppm").as("ts"))
        val rs = cell.groupBy("source").agg(
            sum(when(col("m") < 1L, col("c")).otherwise(0L)).as("c0"),
            sum(when(col("m") < 1L, col("ts")).otherwise(0L)).as("t0"),
            sum(when(col("m") < 2L, col("c")).otherwise(0L)).as("c1"),
            sum(when(col("m") < 2L, col("ts")).otherwise(0L)).as("t1"),
            sum(when(col("m") < 4L, col("c")).otherwise(0L)).as("c2"),
            sum(when(col("m") < 4L, col("ts")).otherwise(0L)).as("t2"),
            sum("c").as("c3"), sum("ts").as("t3"))
          .select(col("source"), col("c0"), col("c1"), col("c2"), col("c3"),
            expr("t0 div nullif(c0, 0)").as("s0"),
            expr("t1 div nullif(c1, 0)").as("s1"),
            expr("t2 div nullif(c2, 0)").as("s2"),
            expr("t3 div nullif(c3, 0)").as("s3"))
        val r0 = rs.withColumn("rk0", row_number().over(
          Window.orderBy(col("s0").desc_nulls_last, col("source"))) // ≤ sources rows
          .cast("long"))
        val r1 = r0.filter(col("rk0") <= 10L).withColumn("rk1",
          row_number().over(
            Window.orderBy(col("s1").desc_nulls_last, col("source"))) // ≤ sources rows
            .cast("long"))
        val r2 = r1.filter(col("rk1") <= 5L).withColumn("rk2",
          row_number().over(
            Window.orderBy(col("s2").desc_nulls_last, col("source"))) // ≤ sources rows
            .cast("long"))
        val r3 = r2.filter(col("rk2") <= 3L).withColumn("rk3",
          row_number().over(
            Window.orderBy(col("s3").desc_nulls_last, col("source"))) // ≤ sources rows
            .cast("long"))
        r0.join(r1.select(col("source"), col("rk1")), Seq("source"), "left")
          .join(r2.select(col("source"), col("rk2")), Seq("source"), "left")
          .join(r3.select(col("source"), col("rk3")), Seq("source"), "left")
          .select(col("source"),
            expr("""CASE WHEN rk2 IS NOT NULL AND rk2 <= 3 THEN 4L
                         WHEN rk1 IS NOT NULL AND rk1 <= 5 THEN 3L
                         WHEN rk0 <= 10 THEN 2L ELSE 1L END""")
              .as("rungs_survived"),
            expr("""c0 + CASE WHEN rk0 <= 10 THEN c1 ELSE 0L END
                       + CASE WHEN rk1 IS NOT NULL AND rk1 <= 5
                              THEN c2 ELSE 0L END
                       + CASE WHEN rk2 IS NOT NULL AND rk2 <= 3
                              THEN c3 ELSE 0L END""").as("docs_scored"),
            expr("""CASE WHEN rk2 IS NOT NULL AND rk2 <= 3 THEN s3
                         WHEN rk1 IS NOT NULL AND rk1 <= 5 THEN s2
                         WHEN rk0 <= 10 THEN s1 ELSE s0 END""")
              .as("last_score_ppm"),
            coalesce(col("rk3"), lit(0L)).as("final_rank"))
          .orderBy("source")
      },
      Some("""
        WITH cell AS (
          SELECT source, doc_id % 8 AS m,
                 CAST(COUNT(*) AS BIGINT) AS c,
                 CAST(SUM(ttr_ppm) AS BIGINT) AS ts
          FROM (SELECT source, doc_id,
                       len(list_distinct(list_filter(
                         string_split(text, ' '), w -> w <> ''))) * 1000000
                         // len(list_filter(string_split(text, ' '),
                              w -> w <> '')) AS ttr_ppm
                FROM documents)
          GROUP BY source, doc_id % 8),
        rs AS (
          SELECT source,
                 CAST(SUM(CASE WHEN m < 1 THEN c ELSE 0 END) AS BIGINT) AS c0,
                 CAST(SUM(CASE WHEN m < 2 THEN c ELSE 0 END) AS BIGINT) AS c1,
                 CAST(SUM(CASE WHEN m < 4 THEN c ELSE 0 END) AS BIGINT) AS c2,
                 CAST(SUM(c) AS BIGINT) AS c3,
                 CAST(SUM(CASE WHEN m < 1 THEN ts ELSE 0 END) AS BIGINT)
                   // nullif(CAST(SUM(CASE WHEN m < 1 THEN c ELSE 0 END)
                     AS BIGINT), 0) AS s0,
                 CAST(SUM(CASE WHEN m < 2 THEN ts ELSE 0 END) AS BIGINT)
                   // nullif(CAST(SUM(CASE WHEN m < 2 THEN c ELSE 0 END)
                     AS BIGINT), 0) AS s1,
                 CAST(SUM(CASE WHEN m < 4 THEN ts ELSE 0 END) AS BIGINT)
                   // nullif(CAST(SUM(CASE WHEN m < 4 THEN c ELSE 0 END)
                     AS BIGINT), 0) AS s2,
                 CAST(SUM(ts) AS BIGINT)
                   // nullif(CAST(SUM(c) AS BIGINT), 0) AS s3
          FROM cell GROUP BY source),
        r0 AS (SELECT *, CAST(row_number() OVER
                 (ORDER BY s0 DESC NULLS LAST, source) AS BIGINT) AS rk0
               FROM rs),
        r1 AS (SELECT *, CAST(row_number() OVER
                 (ORDER BY s1 DESC NULLS LAST, source) AS BIGINT) AS rk1
               FROM r0 WHERE rk0 <= 10),
        r2 AS (SELECT *, CAST(row_number() OVER
                 (ORDER BY s2 DESC NULLS LAST, source) AS BIGINT) AS rk2
               FROM r1 WHERE rk1 <= 5),
        r3 AS (SELECT *, CAST(row_number() OVER
                 (ORDER BY s3 DESC NULLS LAST, source) AS BIGINT) AS rk3
               FROM r2 WHERE rk2 <= 3)
        SELECT r0.source AS source,
               CAST(CASE WHEN rk2 IS NOT NULL AND rk2 <= 3 THEN 4
                    WHEN rk1 IS NOT NULL AND rk1 <= 5 THEN 3
                    WHEN rk0 <= 10 THEN 2 ELSE 1 END AS BIGINT)
                 AS rungs_survived,
               r0.c0 + CASE WHEN rk0 <= 10 THEN r0.c1 ELSE 0 END
                     + CASE WHEN rk1 IS NOT NULL AND rk1 <= 5
                            THEN r0.c2 ELSE 0 END
                     + CASE WHEN rk2 IS NOT NULL AND rk2 <= 3
                            THEN r0.c3 ELSE 0 END AS docs_scored,
               CASE WHEN rk2 IS NOT NULL AND rk2 <= 3 THEN r0.s3
                    WHEN rk1 IS NOT NULL AND rk1 <= 5 THEN r0.s2
                    WHEN rk0 <= 10 THEN r0.s1 ELSE r0.s0 END
                 AS last_score_ppm,
               COALESCE(rk3, 0) AS final_rank
        FROM r0
        LEFT JOIN (SELECT source, rk1 FROM r1) u1 ON r0.source = u1.source
        LEFT JOIN (SELECT source, rk2 FROM r2) u2 ON r0.source = u2.source
        LEFT JOIN (SELECT source, rk3 FROM r3) u3 ON r0.source = u3.source
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q297
    // Bradley–Terry strength fit — the model behind every pairwise-
    // preference leaderboard (reward-model eval, arena rankings): from
    // win/loss counts alone, infer a latent strength p_i such that
    // P(i beats j) = p_i/(p_i+p_j). Comparisons come from q273's
    // rank-pairing device: sources meet at each quality rank k, the
    // higher TTR wins, ties count for neither (stated). The fit is the
    // classic MM iteration p_i ← W_i / Σ_j n_ij/(p_i+p_j), run as
    // THREE unrolled rounds of exact integer arithmetic: strengths
    // live in ppm, each divide is a truncating `div` with the same
    // operand order in both engines, every round renormalizes to
    // cnt·10⁶ total and floors at 1 so a winless item can never zero a
    // later denominator. Sanity invariant: this schedule is a BALANCED
    // round-robin (every pair meets at every rank k), and on balanced
    // data the MM fit is monotone in raw win rate — so bt_rank MUST
    // equal the win_ppm order here (verified on the fixture), while
    // the strengths themselves stretch nonlinearly; with missing or
    // lopsided pairings (the real arena case) the orders diverge
    // because MM weighs WHO you beat. 100 TB
    // shape: the corpus compresses to pairwise sufficient statistics
    // (≤ items² rows) in one rank join + keyed aggregate; all three MM
    // rounds run on that item-count-sized frame — the global windows
    // touch ≤ items rows, bounded by construction.
    QueryDef(
      "q297_bradley_terry",
      (s, dir) => {
        val ranked = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            expr("""size(array_distinct(filter(split(text, ' '),
                      w -> w <> ''))) * 1000000
                    div size(filter(split(text, ' '), w -> w <> ''))""")
              .as("ttr_ppm"))
          .withColumn("k", row_number().over(
            Window.partitionBy("source")
              .orderBy(col("ttr_ppm").desc, col("doc_id"))).cast("long"))
        val a = ranked.select(col("source").as("i"), col("k"),
          col("ttr_ppm").as("ti"))
        val b = ranked.select(col("source").as("j"), col("k"),
          col("ttr_ppm").as("tj"))
        val pc = a.join(b, "k").filter(col("i") < col("j"))
          .groupBy("i", "j")
          .agg(sum(when(col("ti") > col("tj"), 1L).otherwise(0L))
              .as("w_ij"),
            sum(when(col("tj") > col("ti"), 1L).otherwise(0L)).as("w_ji"))
        val sTab = pc.select(col("i").as("item"), col("j").as("opp"),
              col("w_ij").as("w"), (col("w_ij") + col("w_ji")).as("n"))
            .union(pc.select(col("j").as("item"), col("i").as("opp"),
              col("w_ji").as("w"), (col("w_ij") + col("w_ji")).as("n")))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val wAll = Window.partitionBy() // ≤ items rows by construction
        val p0 = sTab.select(col("item")).distinct()
          .withColumn("p", lit(1000000L))
        // each MM round references p TWICE (pi + pj joins), so folding
        // without a lineage cut doubles the logical tree per round; at
        // the end of the bench suite every action re-canonicalizes that
        // tree against every live cache entry (the 23.4 s-suite vs
        // 4.2 s-iso gap of r9). Eager localCheckpoint keeps each round's
        // plan a leaf; the frame is ≤ items rows.
        val pFinal = (1 to 3).foldLeft(p0) { (pPrev, _) =>
          val p = pPrev.localCheckpoint(true)
          sTab
            .join(p.select(col("item"), col("p").as("pi")), "item")
            .join(p.select(col("item").as("opp"), col("p").as("pj")), "opp")
            .groupBy("item")
            .agg(sum(expr("n * 1000000000000 div (pi + pj)")).as("den"),
              sum("w").as("wi"))
            .select(col("item"),
              expr("wi * 1000000000000 div nullif(den, 0)").as("praw"))
            .withColumn("cnt", count(lit(1)).over(wAll).cast("long"))
            .withColumn("stot", sum("praw").over(wAll))
            .select(col("item"),
              // DECIMAL(38) ↔ HUGEINT widening (q316 discipline): the
              // numerator is ≪ Long.Max at fixture scale but not by
              // construction; route it wide, land on BIGINT.
              expr("""greatest(CAST(CAST(praw AS DECIMAL(38,0)) * cnt
                        * 1000000 div nullif(stot, 0) AS BIGINT),
                      1L)""").as("p"))
        }
        sTab.groupBy("item")
          .agg(sum("n").as("games"), sum("w").as("wins"))
          .join(pFinal, "item")
          .select(col("item").as("source"), col("games"), col("wins"),
            expr("wins * 1000000 div nullif(games, 0)").as("win_ppm"),
            col("p").as("bt_ppm"))
          .withColumn("bt_rank", row_number().over(
            Window.orderBy(col("bt_ppm").desc, col("source"))).cast("long")) // ≤ sources rows
          .orderBy("source")
      },
      Some("""
        WITH sc AS (
          SELECT doc_id, source,
                 len(list_distinct(list_filter(string_split(text, ' '),
                   w -> w <> ''))) * 1000000
                   // len(list_filter(string_split(text, ' '),
                        w -> w <> '')) AS ttr_ppm
          FROM documents),
        rk AS (
          SELECT doc_id, source, ttr_ppm,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY ttr_ppm DESC, doc_id) AS BIGINT) AS k
          FROM sc),
        pc AS (
          SELECT a.source AS i, b.source AS j,
                 CAST(count_if(a.ttr_ppm > b.ttr_ppm) AS BIGINT) AS w_ij,
                 CAST(count_if(b.ttr_ppm > a.ttr_ppm) AS BIGINT) AS w_ji
          FROM rk a JOIN rk b ON a.k = b.k AND a.source < b.source
          GROUP BY a.source, b.source),
        st AS MATERIALIZED (
          SELECT i AS item, j AS opp, w_ij AS w, w_ij + w_ji AS n FROM pc
          UNION ALL
          SELECT j, i, w_ji, w_ij + w_ji FROM pc),
        it AS (SELECT CAST(COUNT(DISTINCT item) AS BIGINT) AS cnt FROM st),
        p0 AS (SELECT DISTINCT item, CAST(1000000 AS BIGINT) AS p FROM st),
        d1 AS (
          SELECT s.item,
                 CAST(SUM(s.n * 1000000000000 // (pi.p + pj.p))
                   AS BIGINT) AS den,
                 CAST(SUM(s.w) AS BIGINT) AS wi
          FROM st s JOIN p0 pi ON s.item = pi.item
                    JOIN p0 pj ON s.opp = pj.item
          GROUP BY s.item),
        r1 AS (SELECT item, wi * 1000000000000 // nullif(den, 0) AS praw
               FROM d1),
        p1 AS (SELECT item,
                 greatest(CAST(CAST(praw AS HUGEINT)
                   * (SELECT cnt FROM it) * 1000000
                   // nullif(SUM(praw) OVER (), 0) AS BIGINT), 1) AS p
               FROM r1),
        d2 AS (
          SELECT s.item,
                 CAST(SUM(s.n * 1000000000000 // (pi.p + pj.p))
                   AS BIGINT) AS den,
                 CAST(SUM(s.w) AS BIGINT) AS wi
          FROM st s JOIN p1 pi ON s.item = pi.item
                    JOIN p1 pj ON s.opp = pj.item
          GROUP BY s.item),
        r2 AS (SELECT item, wi * 1000000000000 // nullif(den, 0) AS praw
               FROM d2),
        p2 AS (SELECT item,
                 greatest(CAST(CAST(praw AS HUGEINT)
                   * (SELECT cnt FROM it) * 1000000
                   // nullif(SUM(praw) OVER (), 0) AS BIGINT), 1) AS p
               FROM r2),
        d3 AS (
          SELECT s.item,
                 CAST(SUM(s.n * 1000000000000 // (pi.p + pj.p))
                   AS BIGINT) AS den,
                 CAST(SUM(s.w) AS BIGINT) AS wi
          FROM st s JOIN p2 pi ON s.item = pi.item
                    JOIN p2 pj ON s.opp = pj.item
          GROUP BY s.item),
        r3 AS (SELECT item, wi * 1000000000000 // nullif(den, 0) AS praw
               FROM d3),
        p3 AS (SELECT item,
                 greatest(CAST(CAST(praw AS HUGEINT)
                   * (SELECT cnt FROM it) * 1000000
                   // nullif(SUM(praw) OVER (), 0) AS BIGINT), 1) AS p
               FROM r3),
        stats AS (
          SELECT item, CAST(SUM(n) AS BIGINT) AS games,
                 CAST(SUM(w) AS BIGINT) AS wins
          FROM st GROUP BY item)
        SELECT item AS source, games, wins,
               wins * 1000000 // nullif(games, 0) AS win_ppm,
               p AS bt_ppm,
               CAST(row_number() OVER (ORDER BY p DESC, item) AS BIGINT)
                 AS bt_rank
        FROM stats JOIN p3 USING (item)
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q298
    // Domain reweighting (the DoReMi shape, linearized) — the mixture-
    // weight step a pretraining run takes AFTER selection: upweight the
    // domains a reference model finds hardest relative to their own
    // internal redundancy. Excess loss here is the exact information-
    // theoretic quantity the proxy-model gap estimates: per-source
    // cross-entropy under the CORPUS unigram model minus entropy under
    // the source's OWN unigram model (≈ KL(source ‖ corpus)), measured
    // in whole bits via the q193 floor-log2 device — length(bin(x)) − 1
    // is pure integer in both engines, so no float log ever appears.
    // The exponentiated-gradient update is linearized to stay exact:
    // w ← max(10⁶ + η·excess_mb, 1) with η = 100 ppm per millibit
    // (stated), renormalized to ppm over the source-count-sized frame.
    // 100 TB shape: two keyed aggregates (source×vocab, vocab) and one
    // vocab-keyed join compress the corpus; the global window at the
    // end touches ≤ source-count rows, bounded by construction.
    QueryDef(
      "q298_domain_reweighting",
      (s, dir) =>
        domainWeightReport(sourceUnigramStats(Tables(s, dir, "documents"))),
      Some(domainWeightOracle))
  ,

    // --------------------------------------------------------------- q299
    // Data-constrained repeat-epoch value — the Muennighoff et al.
    // accounting run when the token budget exceeds the fresh data: a
    // source asked to supply budget B from U unique tokens repeats for
    // ⌈B/U⌉ epochs, and each repeat is worth less than the last. The
    // per-epoch retention is a FIXED ppm decay d = 0.8 whose powers are
    // the shared 9-entry integer literal table (each entry the exact
    // truncating product of the previous by 800000 div 10⁶ — derived
    // once, identical in both engines), so effective tokens are a pure
    // integer fold: Σ_full-epochs U·r_e div 10⁶ plus the partial
    // epoch's remainder at rate r_{R+1}. Budget = corpus_total div 10
    // per source (an equal 10%-of-corpus demand, stated); epochs cap at
    // 8 (beyond which r < 0.21 — the diminishing-returns regime the
    // paper measures; capped sources report zero partial, stated).
    // 100 TB shape: ONE map-side-combinable keyed aggregate per source
    // plus a broadcast one-row corpus total; every fold runs on a
    // source-count-sized frame.
    QueryDef(
      "q299_repeat_epoch_value",
      (s, dir) => {
        val rates = "array(1000000L, 800000L, 640000L, 512000L, " +
          "409600L, 327680L, 262144L, 209715L, 167772L)"
        val perSrc = Tables(s, dir, "documents")
          .select(col("source"),
            expr("size(filter(split(text, ' '), w -> w <> ''))").as("nt"))
          .groupBy("source").agg(sum("nt").as("n_toks"))
        val tot = perSrc.agg(sum("n_toks").as("t"))
          .select(expr("t div 10").as("budget_toks"))
        perSrc.crossJoin(broadcast(tot))
          .withColumn("epochs_full",
            expr("least(budget_toks div nullif(n_toks, 0), 8L)"))
          .withColumn("partial_toks",
            expr("""CASE WHEN budget_toks div nullif(n_toks, 0) >= 8
                    THEN 0L ELSE budget_toks % nullif(n_toks, 0) END"""))
          .withColumn("effective_toks",
            expr(s"""CASE WHEN epochs_full < 1 THEN 0L
                     ELSE aggregate(sequence(1, int(epochs_full)), 0L,
                       (acc, e) -> acc + n_toks *
                         element_at($rates, e) div 1000000) END
                     + partial_toks *
                       element_at($rates, int(epochs_full) + 1)
                       div 1000000"""))
          .select(col("source"), col("n_toks"), col("budget_toks"),
            col("epochs_full"), col("partial_toks"), col("effective_toks"),
            expr("effective_toks * 1000000 div budget_toks")
              .as("effective_ppm"),
            expr("budget_toks - effective_toks").as("waste_toks"))
          .orderBy("source")
      },
      Some("""
        WITH ps AS (
          SELECT source,
                 CAST(SUM(len(list_filter(string_split(text, ' '),
                   w -> w <> ''))) AS BIGINT) AS n_toks
          FROM documents GROUP BY source),
        tt AS (SELECT CAST(SUM(n_toks) AS BIGINT) // 10 AS budget_toks
               FROM ps),
        ep AS (
          SELECT source, n_toks, budget_toks,
                 least(budget_toks // nullif(n_toks, 0), 8) AS epochs_full,
                 CASE WHEN budget_toks // nullif(n_toks, 0) >= 8 THEN 0
                      ELSE budget_toks % nullif(n_toks, 0) END
                   AS partial_toks
          FROM ps CROSS JOIN tt),
        ef AS (
          SELECT source, n_toks, budget_toks, epochs_full, partial_toks,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     range(1, epochs_full + 1)),
                   (acc, e) -> acc + n_toks *
                     ([1000000, 800000, 640000, 512000, 409600, 327680,
                       262144, 209715, 167772][CAST(e AS INT)])
                     // 1000000)
                 + partial_toks *
                   ([1000000, 800000, 640000, 512000, 409600, 327680,
                     262144, 209715, 167772][CAST(epochs_full + 1 AS INT)])
                   // 1000000 AS effective_toks
          FROM ep)
        SELECT source,
               CAST(n_toks AS BIGINT) AS n_toks,
               CAST(budget_toks AS BIGINT) AS budget_toks,
               CAST(epochs_full AS BIGINT) AS epochs_full,
               CAST(partial_toks AS BIGINT) AS partial_toks,
               CAST(effective_toks AS BIGINT) AS effective_toks,
               CAST(effective_toks * 1000000 // budget_toks AS BIGINT)
                 AS effective_ppm,
               CAST(budget_toks - effective_toks AS BIGINT) AS waste_toks
        FROM ef
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q302
    // Raking / iterative proportional fitting (Deming–Stephan) — the
    // two-marginal balancing step a corpus runs when BOTH the source
    // mix and the language mix must hit targets q67/q86's single-axis
    // quotas can't: fit cell weights over the source × lang grid so
    // row sums approach uniform source shares AND column sums approach
    // uniform language shares. Weights live in micro-docs; each of the
    // 3 unrolled rounds is a row step w ← w·rt div rowsum then a
    // column step w ← w·ct div colsum, products routed through
    // DECIMAL(38) ↔ HUGEINT (the q236 headroom discipline) with
    // truncating division in identical order. Raking runs on the
    // OBSERVED support (absent cells stay absent — structural zeros,
    // the standard convention) and targets carry div-truncation dust,
    // so the report prices residual row/col deviation in ppm instead
    // of pretending convergence. 100 TB shape: ONE keyed aggregate
    // compresses the corpus to the sources × langs grid; every window
    // after that is keyed on a grid axis — bounded by construction.
    QueryDef(
      "q302_raking_ipf",
      (s, dir) => {
        val grid = Tables(s, dir, "documents")
          .groupBy("source", "lang").agg(count(lit(1)).as("n_docs"))
        val tot = grid.agg(sum("n_docs").as("n"),
            countDistinct("source").as("sc"),
            countDistinct("lang").as("lcnt"))
          .select(expr("(n div sc) * 1000000").as("rt"),
            expr("(n div lcnt) * 1000000").as("ct"))
        val wS = Window.partitionBy("source")
        val wL = Window.partitionBy("lang")
        val w0 = grid.crossJoin(broadcast(tot))
          .withColumn("w", expr("n_docs * 1000000"))
        val fitted = (1 to 3).foldLeft(w0) { (f, _) =>
          f.withColumn("rs", sum("w").over(wS))
            .withColumn("w",
              expr("cast(cast(w AS DECIMAL(38,0)) * rt div rs AS BIGINT)"))
            .drop("rs")
            .withColumn("cs", sum("w").over(wL))
            .withColumn("w",
              expr("cast(cast(w AS DECIMAL(38,0)) * ct div cs AS BIGINT)"))
            .drop("cs")
        }
        fitted
          .withColumn("rs", sum("w").over(wS))
          .withColumn("cs", sum("w").over(wL))
          .select(col("source"), col("lang"), col("n_docs"),
            col("w").as("raked_micro"),
            expr("w div n_docs").as("adj_ppm"),
            expr("abs(rs - rt) * 1000000 div rt").as("row_dev_ppm"),
            expr("abs(cs - ct) * 1000000 div ct").as("col_dev_ppm"))
          .orderBy("source", "lang")
      },
      Some("""
        WITH grid AS (
          SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY source, lang),
        t AS (
          SELECT (CAST(SUM(n_docs) AS BIGINT)
                    // COUNT(DISTINCT source)) * 1000000 AS rt,
                 (CAST(SUM(n_docs) AS BIGINT)
                    // COUNT(DISTINCT lang)) * 1000000 AS ct
          FROM grid),
        w0 AS (SELECT source, lang, n_docs, n_docs * 1000000 AS w, rt, ct
               FROM grid CROSS JOIN t),
        r1 AS (SELECT source, lang, n_docs, rt, ct,
                 CAST(CAST(w AS HUGEINT) * rt
                   // SUM(w) OVER (PARTITION BY source) AS BIGINT) AS w
               FROM w0),
        c1 AS (SELECT source, lang, n_docs, rt, ct,
                 CAST(CAST(w AS HUGEINT) * ct
                   // SUM(w) OVER (PARTITION BY lang) AS BIGINT) AS w
               FROM r1),
        r2 AS (SELECT source, lang, n_docs, rt, ct,
                 CAST(CAST(w AS HUGEINT) * rt
                   // SUM(w) OVER (PARTITION BY source) AS BIGINT) AS w
               FROM c1),
        c2 AS (SELECT source, lang, n_docs, rt, ct,
                 CAST(CAST(w AS HUGEINT) * ct
                   // SUM(w) OVER (PARTITION BY lang) AS BIGINT) AS w
               FROM r2),
        r3 AS (SELECT source, lang, n_docs, rt, ct,
                 CAST(CAST(w AS HUGEINT) * rt
                   // SUM(w) OVER (PARTITION BY source) AS BIGINT) AS w
               FROM c2),
        c3 AS (SELECT source, lang, n_docs, rt, ct,
                 CAST(CAST(w AS HUGEINT) * ct
                   // SUM(w) OVER (PARTITION BY lang) AS BIGINT) AS w
               FROM r3),
        fin AS (
          SELECT source, lang, n_docs, w, rt, ct,
                 SUM(w) OVER (PARTITION BY source) AS rs,
                 SUM(w) OVER (PARTITION BY lang) AS cs
          FROM c3)
        SELECT source, lang, n_docs,
               CAST(w AS BIGINT) AS raked_micro,
               CAST(w // n_docs AS BIGINT) AS adj_ppm,
               CAST(abs(rs - rt) * 1000000 // rt AS BIGINT) AS row_dev_ppm,
               CAST(abs(cs - ct) * 1000000 // ct AS BIGINT) AS col_dev_ppm
        FROM fin
        ORDER BY source, lang"""))
  ,

    // --------------------------------------------------------------- q304
    // Group-Shapley data valuation — q301's LOO upgraded to the full
    // cooperative-game answer: LOO misses substitution (two groups
    // covering the same vocabulary each look worthless alone), Shapley
    // charges every coalition. Exact because the game is small by
    // CONSTRUCTION: sources fold into 4 tiers, the characteristic
    // function v(S) = vocabulary types covered by coalition S, and the
    // whole game compresses to ONE corpus pass — each type reduces to
    // its group-coverage BITMASK via sum(DISTINCT 1<<g) (powers of two,
    // so the distinct-sum IS the mask), masks count into a ≤ 15-row
    // table, and every v(S), marginal, and Shapley term is arithmetic
    // on 16-row frames. Weights are exact rationals in 1/24ths
    // (|S|!(3−|S|)!·{6,2,2,6}), so Σφ = v(grand) holds EXACTLY — the
    // efficiency axiom, spec-asserted. Coverage is monotone, so every
    // marginal is non-negative and truncating division is safe.
    QueryDef(
      "q304_group_shapley",
      (s, dir) => {
        val masks = Tables(s, dir, "documents")
          .select(expr("cast(substring(source, 4, 10) AS INT) % 4").as("g"),
            explode(expr(
              "array_distinct(filter(split(text, ' '), w -> w <> ''))"))
              .as("tok"))
          .distinct()
          .groupBy("tok")
          .agg(expr("cast(sum(DISTINCT shiftleft(1, g)) AS BIGINT)").as("m"))
          .groupBy("m").agg(count(lit(1)).as("cnt"))
        val subsets = s.range(0, 16).select(col("id").as("ss"))
        val vtab = subsets.join(broadcast(masks),
            expr("(m & ss) <> 0"), "left")
          .groupBy("ss").agg(coalesce(sum("cnt"), lit(0L)).as("v"))
        val players = s.range(0, 4).select(col("id").as("g"))
        val phi = players
          .join(vtab.select(col("ss").as("s0"), col("v").as("v0")),
            expr("((s0 >> g) & 1) = 0"))
          .join(vtab.select(col("ss").as("s1"), col("v").as("v1")),
            expr("s1 = (s0 | shiftleft(1, int(g)))"))
          .select(col("g"),
            expr("""CASE WHEN bit_count(s0) IN (0, 3) THEN 6L ELSE 2L END
                    * (v1 - v0)""").as("contrib"))
          .groupBy("g").agg(sum("contrib").as("phi_24"))
        val grand = vtab.filter(col("ss") === 15L)
          .select(col("v").as("vg"))
        players.join(vtab, expr("ss = shiftleft(1, int(g))"))
          .select(col("g"), col("v").as("v_solo"))
          .join(phi, "g").crossJoin(broadcast(grand))
          .select(col("g").as("grp"), col("v_solo"), col("phi_24"),
            expr("phi_24 * 1000 div 24").as("phi_milli"),
            expr("phi_24 * 1000000 div (24 * vg)").as("share_ppm"))
          .orderBy("grp")
      },
      Some("""
        WITH gt AS (
          SELECT DISTINCT CAST(source[4:] AS INT) % 4 AS g, tok
          FROM (SELECT source,
                       unnest(list_distinct(list_filter(
                         string_split(text, ' '), w -> w <> ''))) AS tok
                FROM documents)),
        mk AS (SELECT tok, CAST(SUM(DISTINCT (1 << g)) AS BIGINT) AS m
               FROM gt GROUP BY tok),
        mc AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM mk GROUP BY m),
        sstab AS (SELECT unnest(range(0, 16)) AS ss),
        v AS (
          SELECT s1.ss,
                 COALESCE(CAST(SUM(CASE WHEN (mc.m & s1.ss) <> 0
                                        THEN mc.cnt END) AS BIGINT), 0) AS v
          FROM sstab s1 CROSS JOIN mc
          GROUP BY s1.ss),
        pl AS (SELECT unnest(range(0, 4)) AS g),
        pr AS (
          SELECT p.g,
                 (CASE WHEN bit_count(v0.ss) IN (0, 3) THEN 6 ELSE 2 END)
                 * (v1.v - v0.v) AS contrib
          FROM pl p
          JOIN v v0 ON ((v0.ss >> p.g) & 1) = 0
          JOIN v v1 ON v1.ss = (v0.ss | (1 << p.g))),
        ph AS (SELECT g, CAST(SUM(contrib) AS BIGINT) AS phi_24
               FROM pr GROUP BY g),
        gr AS (SELECT v AS vg FROM v WHERE ss = 15),
        so AS (SELECT p.g, v.v AS v_solo
               FROM pl p JOIN v ON v.ss = (1 << p.g))
        SELECT so.g AS grp, v_solo, phi_24,
               CAST(phi_24 * 1000 // 24 AS BIGINT) AS phi_milli,
               CAST(phi_24 * 1000000 // (24 * vg) AS BIGINT) AS share_ppm
        FROM so JOIN ph USING (g) CROSS JOIN gr
        ORDER BY grp"""))
  ,

    // --------------------------------------------------------------- q313
    // Prefix-cache savings model — KV-cache economics, the inference-
    // side twin of q254's training token costs: when every serving
    // request is template + document (q284's chat-render convention —
    // an 8-token system header precedes the text, pinned as the SAME
    // literal in both engines), requests sharing a token prefix of
    // length k pay it once. For k ∈ {4, 8, 12, 16}, group requests by
    // their first-k tokens; a group of m requests saves (m−1)·k prefix
    // tokens. The k-curve's knee sits exactly at the header length —
    // beyond it sharing needs identical document openings and the
    // savings collapse, which is precisely what a cache planner reads
    // off this report before sizing KV memory. Shape: a constant ×4
    // narrow fan-out (k levels) feeding two keyed aggregates
    // ((source, k, prefix) → (source, k)); prefixes are ≤ 16-token
    // strings, requests never shuffle whole.
    QueryDef(
      "q313_prefix_cache_model",
      (s, dir) =>
        prefixCacheReport(prefixRequests(Tables(s, dir, "documents"))),
      Some(prefixCacheOracle))
  ,

    // --------------------------------------------------------------- q315
    // Fill-in-middle (FIM) data-prep accounting — the Bavarian et al.
    // transformation every code-model corpus runs between q256's span
    // masking and q284's chat render: half the documents (md5(doc_id)
    // coin, the PSM/SPM literature's 50% FIM rate — stated) split
    // into prefix/middle/suffix thirds (p = m = nt div 3, the
    // remainder rides the suffix) and re-serialize with 3 sentinel
    // tokens; FIM'd docs split evenly again into PSM and SPM orderings
    // (coin % 4 — ordering changes no counts, but the share is the
    // config a trainer pins). Docs under 12 tokens are ineligible
    // (three non-trivial segments, stated) and pass through verbatim.
    // The report prices what the trainer actually pays: middle-token
    // mass that becomes infill targets, and sentinel overhead on the
    // post-transform stream. Pure bookkeeping arithmetic — ONE narrow
    // projection + one keyed aggregate, nothing shuffles but the
    // per-source sums.
    QueryDef(
      "q315_fim_accounting",
      (s, dir) => {
        Tables(s, dir, "documents")
          .select(col("source"),
            expr("size(filter(split(text, ' '), w -> w <> ''))").as("nt"),
            expr("""cast(conv(substr(md5(cast(doc_id AS string)), 1, 15),
                         16, 10) AS BIGINT) % 4""").as("coin"))
          .withColumn("eligible", col("nt") >= 12L)
          .withColumn("fim", col("eligible") && col("coin") % 2 === 0L)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("eligible"), 1L).otherwise(0L)).as("eligible_docs"),
            sum(when(col("fim"), 1L).otherwise(0L)).as("fim_docs"),
            sum(when(col("fim") && col("coin") === 0L, 1L).otherwise(0L))
              .as("psm_docs"),
            sum(when(col("fim") && col("coin") === 2L, 1L).otherwise(0L))
              .as("spm_docs"),
            sum("nt").as("total_toks"),
            sum(when(col("fim"), expr("nt div 3")).otherwise(0L))
              .as("middle_toks"))
          .select(col("source"), col("n_docs"), col("eligible_docs"),
            col("fim_docs"), col("psm_docs"), col("spm_docs"),
            col("middle_toks"),
            expr("middle_toks * 1000000 div total_toks")
              .as("middle_mass_ppm"),
            expr("""3 * fim_docs * 1000000
                    div (total_toks + 3 * fim_docs)""")
              .as("sentinel_overhead_ppm"))
          .orderBy("source")
      },
      Some("""
        WITH d AS (
          SELECT source,
                 CAST(len(list_filter(string_split(text, ' '),
                   w -> w <> '')) AS BIGINT) AS nt,
                 CAST(concat('0x',
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   % 4 AS coin
          FROM documents),
        f AS (
          SELECT source, nt, coin,
                 nt >= 12 AS eligible,
                 nt >= 12 AND coin % 2 = 0 AS fim
          FROM d)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(count_if(eligible) AS BIGINT) AS eligible_docs,
               CAST(count_if(fim) AS BIGINT) AS fim_docs,
               CAST(count_if(fim AND coin = 0) AS BIGINT) AS psm_docs,
               CAST(count_if(fim AND coin = 2) AS BIGINT) AS spm_docs,
               CAST(SUM(CASE WHEN fim THEN nt // 3 ELSE 0 END) AS BIGINT)
                 AS middle_toks,
               CAST(SUM(CASE WHEN fim THEN nt // 3 ELSE 0 END) * 1000000
                 // CAST(SUM(nt) AS BIGINT) AS BIGINT) AS middle_mass_ppm,
               CAST(3 * count_if(fim) * 1000000
                 // (CAST(SUM(nt) AS BIGINT) + 3 * count_if(fim))
                 AS BIGINT) AS sentinel_overhead_ppm
        FROM f
        GROUP BY source
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q319
    // Token-budget WATER-FILLING in CLOSED FORM — the exact single-pass
    // answer to the allocation problem q257 approximates with 3 unrolled
    // redistribution rounds: q257's rounds converge geometrically but
    // leave real budget stranded when many sources cap late, and at 100 TB
    // each extra round is another full pass over the source table's
    // lineage. Here the caps are AVAILABILITY (a source cannot contribute
    // tokens it doesn't have — the data-constrained regime of Muennighoff
    // et al.), weights are quality (mean TTR), and the budget B = 40% of
    // the corpus. The classic water-fill solved exactly: sources sorted by
    // cap-to-weight ratio, the cut = the first rank whose cap exceeds its
    // fair share at the waterline implied by capping everyone before it —
    // found by exact cross-multiplied predicates over prefix sums (all
    // products routed DECIMAL(38) ↔ HUGEINT), never a float division.
    // The rank key a·10⁶ div w is a deterministic stand-in for the true
    // rational ratio order (ties broken by source); allocations clamp at
    // the cap, so a rank perturbation at a near-tie can only leave
    // truncation-sized budget unspent, never over-allocate — stated.
    // 100 TB shape: the corpus compresses to one (avail, weight) row per
    // source in one keyed aggregate; every window after that touches
    // ≤ sources rows, bounded by construction.
    QueryDef(
      "q319_token_budget_waterfill",
      (s, dir) => budgetWaterfill(budgetPerDoc(Tables(s, dir, "documents"))),
      Some(budgetWaterfillOracle))
  ,

    // --------------------------------------------------------------- q325
    // Temperature-scaled mixture sampling (τ = 2, p ∝ n^(1/2)) — the
    // multilingual up-sampling device of mC4/XLM-R beside q319's
    // cap-aware water-fill and q298's learned reweighting: square-root
    // scaling lifts low-resource sources without letting the head
    // dominate. Exactness: both engines evaluate floor(sqrt(CAST(n AS
    // DOUBLE))) — IEEE-754 sqrt is correctly rounded, so for n < 2⁵²
    // the two engines produce the IDENTICAL double and the identical
    // floor (the rare n = k²−1 boundary where sqrt rounds up to k is
    // the same rounding in both — cross-engine agreement, which is what
    // the gate hashes, is unconditional). Every product that multiplies
    // the corpus-scale budget rides DECIMAL(38) ↔ HUGEINT. 100 TB
    // shape: one keyed corpus aggregate → ≤ sources-row frame; the
    // total rides a broadcast single-row aggregate (never a window over
    // data rows); epochs-per-source in exact milli shows the
    // up-sampling factor the τ=2 schedule implies.
    QueryDef(
      "q325_temperature_sampling",
      (s, dir) => temperatureSampling(budgetPerDoc(
        Tables(s, dir, "documents"))),
      Some(temperatureOracle))
  ,

    // --------------------------------------------------------------- q329
    // UL2 mixture-of-denoisers accounting — the objective-planning step
    // for encoder-decoder / prefix-LM pretraining (Tay et al.'s R/X/S
    // denoisers; q315's FIM is the decoder-only sibling): for each
    // objective, price the corpus in masked-token mass, sentinel
    // overhead, and input/target lengths. R = short spans (3-token
    // blocks, 15% density), X = long spans (12-token blocks, 50%), S =
    // prefix-LM (the suffix half is the target, one split sentinel).
    // Masking is the md5-coin device per (doc, block, objective);
    // CONSECUTIVE masked blocks coalesce into ONE span (a span start is
    // a masked block whose predecessor's coin — RE-DERIVED
    // arithmetically, no window, no self-join — is unmasked), so
    // sentinel counts follow T5 semantics exactly. 100 TB shape: one
    // narrow block explode (fan-out ≤ tokens/3), keyed per-doc
    // aggregate, ≤ sources×3 rollup; the S row is pure per-doc
    // arithmetic unioned in with zero fan-out.
    QueryDef(
      "q329_ul2_denoiser_accounting",
      (s, dir) => ul2Report(ul2PerDoc(ul2Rows(
        Tables(s, dir, "documents").select("doc_id", "source", "text")))),
      Some(ul2Oracle))
  ,

    // --------------------------------------------------------------- q331
    // MoE top-2 router load/capacity accounting — the expert-parallel
    // training-systems audit beside q329's objective mix and q319's
    // source budgets: every token dispatches to its top-2 of 8 experts
    // (the Switch/GShard regime) and each batch enforces a 1.25
    // capacity factor, so the questions a cluster owner actually asks —
    // how skewed is the routing, how many tokens overflow capacity and
    // get dropped, what does the load-balance auxiliary loss see — are
    // answered from data alone, before a single GPU is booked. Routing
    // is the md5-coin device per (token, doc, position): e1 = h % 8,
    // e2 = (e1 + 1 + h' % 7) % 8 guarantees two DISTINCT experts, both
    // engines derive the identical pair. Drops need NO per-token rank:
    // within a (batch, expert) cell every dispatch beyond capacity
    // drops, so dropped = greatest(0, cell − cap) falls out of the
    // per-cell count — the naive row_number-per-cell window never
    // exists. 100 TB shape: stateless per-token projection + explode
    // (2 rows/token), one keyed (source, batch, expert) aggregate;
    // every window after that rides ≤ 8-row partitions (experts per
    // batch, experts per source); ppm products over corpus-scale
    // dispatch counts ride DECIMAL(38) ↔ HUGEINT. Batches are
    // (source, doc_id div 16) so the capacity unit stays bounded and
    // batch-local at any corpus size. The per-token dispatch half
    // streams at-ingest as s60.
    QueryDef(
      "q331_moe_router_balance",
      (s, dir) => moeReport(moeDispatch(
        Tables(s, dir, "documents").select("doc_id", "source", "text"))),
      Some(moeOracle))
  ,

    // --------------------------------------------------------------- q334
    // Packed-sequence attention-mask accounting — what document
    // masking is worth once q78/q272/q276 have packed the corpus: in
    // the chop-at-512 GPT regime docs concatenate in doc_id order and
    // sequences cut every 512 tokens, so a sequence holds fragments of
    // several docs (and a doc can straddle sequences). Plain causal
    // attention pays L·(L+1)/2 pairs per sequence and lets tokens
    // attend ACROSS document boundaries (the cross-contamination
    // masking removes); document-aware masking pays only
    // Σ f·(f+1)/2 over the fragments. Both sides are exact integer
    // triangle numbers; the per-source report prices the mask's
    // saved-pairs mass (DECIMAL(38) ↔ HUGEINT ppm) plus the packing
    // facts (sequences, straddling docs). 100 TB shape: packing is
    // per-(source, shard = doc_id div 64), so the one ordered window
    // (the running token offset) rides a ≤ 64-row partition and shards
    // pack embarrassingly parallel; the fragment explode fans out ≤
    // ⌈l/512⌉ + 1 rows per doc; everything after is keyed aggregates.
    // The per-doc length half streams at-ingest as s61.
    QueryDef(
      "q334_packed_attention_mask",
      (s, dir) => packMaskReport(packPerDoc(
        Tables(s, dir, "documents").select("doc_id", "source", "text"))),
      Some(packMaskOracle))
  ,

    // --------------------------------------------------------------- q337
    // GRPO group-degeneracy audit — the RL-from-verifiable-rewards
    // data question beside q297's Bradley–Terry and q273's pairwise
    // eval: group-relative policy optimization draws k = 8 samples per
    // prompt, scores each pass/fail, and normalizes advantage within
    // the group — so a group where ALL samples pass (or all fail) has
    // zero advantage everywhere and contributes NOTHING to the
    // gradient. The audit prices exactly that waste: degenerate-group
    // mass, its all-pass/all-fail split, overall pass rate, and the
    // advantage mass that survives. Rewards are the md5-coin per
    // (prompt, sample) — binary, the verifiable-reward regime — and
    // the advantage stays exact: adv·k = k·r − Σr is integer, so
    // Σ|adv| rides as Σ|k·r − Σr| with one final div, never a float
    // mean. 100 TB shape: stateless ×8 sample explode, one keyed
    // per-prompt aggregate, ≤ sources rollup; the per-sample half
    // streams at-ingest as s63 (scoring samples as they land).
    QueryDef(
      "q337_grpo_group_audit",
      (s, dir) => grpoReport(grpoSamples(
        Tables(s, dir, "documents").select("doc_id", "source"))),
      Some(grpoOracle))
  ,

    // --------------------------------------------------------------- q338
    // Paged KV-cache fragmentation sweep — the serving-memory planning
    // input beside q313's prefix-cache hit model: a paged allocator
    // (the vLLM device) rounds every sequence up to whole blocks, so
    // small blocks waste little memory but multiply page-table entries
    // and large blocks do the reverse. For block sizes {4, 16, 64}
    // (scaled to the fixture's ~55-token docs; the algebra is
    // size-agnostic) each doc prices blocks = ceil(l / bs) and
    // internal fragmentation = blocks·bs − l; the per-(source, block
    // size) report carries both sides of the trade — frag_ppm of
    // reserved memory AND the page-table entry count. Pure integer
    // arithmetic; the block-size axis is a 3-row broadcast literal.
    // 100 TB shape: one stateless per-doc projection × 3, one keyed
    // rollup; nothing else.
    QueryDef(
      "q338_paged_kv_fragmentation",
      (s, dir) => pagedKvReport(Tables(s, dir, "documents")
        .select(col("source"),
          expr("""CAST(size(filter(split(text, ' '), w -> w <> ''))
                  AS BIGINT)""").as("l"))),
      Some("""
        WITH d AS (
          SELECT source,
                 CAST(len(list_filter(string_split(text, ' '),
                   w -> w <> '')) AS BIGINT) AS l
          FROM documents
          WHERE len(list_filter(string_split(text, ' '), w -> w <> ''))
            >= 1),
        e AS (
          SELECT source, l, t.bs, (l + t.bs - 1) // t.bs AS blocks
          FROM d, UNNEST([CAST(4 AS BIGINT), CAST(16 AS BIGINT),
                          CAST(64 AS BIGINT)]) AS t(bs)),
        rep AS (
          SELECT source, bs, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(l) AS BIGINT) AS total_tokens,
                 CAST(SUM(blocks) AS BIGINT) AS page_entries,
                 CAST(SUM(blocks * bs) AS BIGINT) AS reserved_tokens,
                 CAST(SUM(blocks * bs - l) AS BIGINT) AS frag_tokens
          FROM e GROUP BY source, bs)
        SELECT source, bs, n_docs, total_tokens, page_entries,
               reserved_tokens, frag_tokens,
               CAST(CAST(frag_tokens AS HUGEINT) * 1000000
                 // nullif(CAST(reserved_tokens AS HUGEINT), 0) AS BIGINT)
                 AS frag_ppm
        FROM rep
        ORDER BY source, bs"""))
  ,

    // --------------------------------------------------------------- q339
    // Strided sliding-window eval overlap — the eval-compute planning
    // sweep beside q286's truncation curve: perplexity over documents
    // longer than the context L is evaluated in windows that slide by
    // a stride S, each window re-encoding L − S already-seen tokens so
    // every token is SCORED once but the forward pass pays overlap.
    // For L = 32 and S ∈ {8, 16, 32} (scaled to the fixture's ~55-
    // token docs; the algebra is L-agnostic) each doc prices its
    // window count and forward-token mass Σ_i min(L, l − i·S) by an
    // explicit window explode (fan-out ≤ l/S + 1); overlap_ppm =
    // (forward − scored) / forward. Windows = 1 if l ≤ L else
    // ⌈(l − L)/S⌉ + 1 — the last window may be short, which is why
    // the mass is summed per window, not closed-form. 100 TB shape:
    // per-doc explode bounded by doc length, keyed rollup, nothing
    // unkeyed anywhere.
    QueryDef(
      "q339_strided_eval_overlap",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("source"),
            expr("""CAST(size(filter(split(text, ' '), w -> w <> ''))
                    AS BIGINT)""").as("l"))
          .filter(col("l") >= 1)
          .withColumn("st", explode(expr(
            "array(CAST(8 AS BIGINT), CAST(16 AS BIGINT), CAST(32 AS BIGINT))")))
          .withColumn("nw", expr(
            "CASE WHEN l <= 32 THEN CAST(1 AS BIGINT) " +
              "ELSE (l - 32 + st - 1) div st + 1 END"))
          .withColumn("i", explode(expr("sequence(0L, nw - 1)")))
          .withColumn("wlen", expr("least(CAST(32 AS BIGINT), l - i * st)"))
        d.groupBy("source", "st")
          .agg(count(when(col("i") === 0, 1)).as("n_docs"),
            sum(when(col("i") === 0, col("l"))).as("scored_tokens"),
            sum("wlen").as("forward_tokens"),
            count(lit(1)).as("n_windows"))
          // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
          .withColumn("overlap_ppm", expr(
            """CAST(CAST(forward_tokens - scored_tokens AS DECIMAL(38,0))
               * 1000000 div nullif(forward_tokens, 0) AS BIGINT)"""))
          .select("source", "st", "n_docs", "n_windows", "scored_tokens",
            "forward_tokens", "overlap_ppm")
          .orderBy("source", "st")
      },
      Some("""
        WITH d AS (
          SELECT source,
                 CAST(len(list_filter(string_split(text, ' '),
                   w -> w <> '')) AS BIGINT) AS l
          FROM documents
          WHERE len(list_filter(string_split(text, ' '), w -> w <> ''))
            >= 1),
        e AS (
          SELECT source, l, t.st,
                 CASE WHEN l <= 32 THEN CAST(1 AS BIGINT)
                      ELSE (l - 32 + t.st - 1) // t.st + 1 END AS nw
          FROM d, UNNEST([CAST(8 AS BIGINT), CAST(16 AS BIGINT),
                          CAST(32 AS BIGINT)]) AS t(st)),
        w AS (
          SELECT source, st, l, nw, u.i,
                 least(CAST(32 AS BIGINT), l - u.i * st) AS wlen
          FROM e, UNNEST(range(0, nw)) AS u(i)),
        rep AS (
          SELECT source, st,
                 CAST(count_if(i = 0) AS BIGINT) AS n_docs,
                 CAST(COUNT(*) AS BIGINT) AS n_windows,
                 CAST(SUM(CASE WHEN i = 0 THEN l END) AS BIGINT)
                   AS scored_tokens,
                 CAST(SUM(wlen) AS BIGINT) AS forward_tokens
          FROM w GROUP BY source, st)
        SELECT source, st, n_docs, n_windows, scored_tokens,
               forward_tokens,
               CAST(CAST(forward_tokens - scored_tokens AS HUGEINT)
                 * 1000000 // nullif(CAST(forward_tokens AS HUGEINT), 0)
                 AS BIGINT) AS overlap_ppm
        FROM rep
        ORDER BY source, st"""))
  ,

    // --------------------------------------------------------------- q340
    // Rejection-sampling (RFT) yield audit — what the best-of-8
    // distillation loop beside q337 actually produces: a prompt is
    // COVERED if any of its 8 verifier-scored samples passes, its kept
    // completion is the FIRST passing draw (lowest sample index — the
    // early-exit a real sampler takes), and everything else is burned
    // compute. Shares q337's md5-coin sample frame VERBATIM, so the
    // two audits describe one rollout run; completion cost rides the
    // prompt's token count as the length proxy. Per-source report:
    // coverage, generated-vs-kept token mass (yield_ppm — the
    // distillation efficiency), and the mean first-pass draw position
    // in milli (the observed draws-to-success statistic that sets the
    // early-exit budget). All integer; ppm/milli products DECIMAL(38)
    // ↔ HUGEINT. 100 TB shape: the ×8 explode, one keyed per-prompt
    // aggregate, one token-count equi-join, ≤ sources rollup.
    QueryDef(
      "q340_rejection_sampling_yield",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val toks = docs.select(col("doc_id").as("tid"),
          expr("""CAST(size(filter(split(text, ' '), w -> w <> ''))
                  AS BIGINT)""").as("l"))
        grpoSamples(docs.select("doc_id", "source"))
          .groupBy("doc_id", "source")
          .agg(sum("r").as("gsum"),
            min(when(col("r") === 1, col("samp"))).as("fp"))
          .join(toks, col("doc_id") === col("tid"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_prompts"),
            sum((col("gsum") >= 1).cast("long")).as("covered"),
            sum(expr("l * 8")).as("gen_tokens"),
            sum(when(col("gsum") >= 1, col("l")).otherwise(0L))
              .as("kept_tokens"),
            sum(when(col("gsum") >= 1, col("fp").cast("long"))
              .otherwise(0L)).as("fp_sum"))
          // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
          .withColumn("coverage_ppm", expr(
            """CAST(CAST(covered AS DECIMAL(38,0)) * 1000000
               div n_prompts AS BIGINT)"""))
          .withColumn("yield_ppm", expr(
            """CAST(CAST(kept_tokens AS DECIMAL(38,0)) * 1000000
               div nullif(gen_tokens, 0) AS BIGINT)"""))
          .withColumn("mean_first_pass_milli", expr(
            """CAST(CAST(fp_sum AS DECIMAL(38,0)) * 1000
               div nullif(covered, 0) AS BIGINT)"""))
          .select("source", "n_prompts", "covered", "coverage_ppm",
            "gen_tokens", "kept_tokens", "yield_ppm",
            "mean_first_pass_milli")
          .orderBy("source")
      },
      Some("""
        WITH samples AS (
          SELECT doc_id, source, t.s AS samp,
                 CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) ||
                   '_s' || t.s), 1, 15)) AS BIGINT) % 2 AS r
          FROM documents, UNNEST(range(0, 8)) AS t(s)),
        groups AS (
          SELECT doc_id, source, CAST(SUM(r) AS BIGINT) AS gsum,
                 MIN(CASE WHEN r = 1 THEN samp END) AS fp
          FROM samples GROUP BY doc_id, source),
        toks AS (
          SELECT doc_id AS tid,
                 CAST(len(list_filter(string_split(text, ' '),
                   w -> w <> '')) AS BIGINT) AS l
          FROM documents),
        rep AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_prompts,
                 CAST(count_if(gsum >= 1) AS BIGINT) AS covered,
                 CAST(SUM(l * 8) AS BIGINT) AS gen_tokens,
                 CAST(SUM(CASE WHEN gsum >= 1 THEN l ELSE 0 END)
                   AS BIGINT) AS kept_tokens,
                 CAST(SUM(CASE WHEN gsum >= 1 THEN fp ELSE 0 END)
                   AS BIGINT) AS fp_sum
          FROM groups g JOIN toks t ON g.doc_id = t.tid
          GROUP BY source)
        SELECT source, n_prompts, covered,
               CAST(CAST(covered AS HUGEINT) * 1000000
                 // CAST(n_prompts AS HUGEINT) AS BIGINT) AS coverage_ppm,
               gen_tokens, kept_tokens,
               CAST(CAST(kept_tokens AS HUGEINT) * 1000000
                 // nullif(CAST(gen_tokens AS HUGEINT), 0) AS BIGINT)
                 AS yield_ppm,
               CAST(CAST(fp_sum AS HUGEINT) * 1000
                 // nullif(CAST(covered AS HUGEINT), 0) AS BIGINT)
                 AS mean_first_pass_milli
        FROM rep
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q346
    // PRM tree-search audit — the process-reward-model data question
    // beside q337's outcome rewards: step-level rewards live on a
    // depth-3 binary rollout tree (8 leaves per prompt), and the
    // serving/search choice is greedy step-wise descent vs scoring
    // all leaves. Node rewards are md5-coins keyed (prompt, level,
    // node index) and RE-DERIVED arithmetically wherever needed (the
    // q329 no-join discipline): the leaf explode prices all 8 paths
    // exactly, the greedy path is pure per-row column arithmetic with
    // ZERO fan-out, and the per-source report carries best-path and
    // greedy-path reward mass, the greedy-finds-best rate, and the
    // regret mass — how much reward step-wise PRM search leaves on
    // the table. Ties break toward child 0 (greedy) and the lowest
    // leaf (best), both engines identically. 100 TB shape: a ×8
    // stateless explode + one keyed per-prompt argmax + a ≤ sources
    // rollup; ppm products DECIMAL(38) ↔ HUGEINT.
    QueryDef(
      "q346_prm_tree_search",
      (s, dir) => {
        def R(l: Int, idx: String) =
          s"""(CAST(conv(substr(md5(concat(CAST(doc_id AS STRING),
              '_n${l}_', CAST(($idx) AS STRING))), 1, 15), 16, 10)
              AS BIGINT) % 10)"""
        val docs = Tables(s, dir, "documents").select("doc_id", "source")
        val best = docs
          .withColumn("leaf", explode(expr("sequence(0L, 7L)")))
          .withColumn("reward", expr(
            s"""${R(1, "leaf div 4")} + ${R(2, "leaf div 2")}
                + ${R(3, "leaf")}"""))
          .withColumn("pick",
            struct(col("reward"), (-col("leaf")).as("nl")))
          .groupBy("doc_id", "source").agg(max("pick").as("m"))
          .select(col("doc_id"), col("source"),
            col("m.reward").as("best_reward"),
            (-col("m.nl")).as("best_leaf"))
        val greedy = docs
          .withColumn("g1",
            expr(s"IF(${R(1, "1")} > ${R(1, "0")}, 1L, 0L)"))
          .withColumn("g2", expr(
            s"""IF(${R(2, "g1 * 2 + 1")} > ${R(2, "g1 * 2")},
                g1 * 2 + 1, g1 * 2)"""))
          .withColumn("g3", expr(
            s"""IF(${R(3, "g2 * 2 + 1")} > ${R(3, "g2 * 2")},
                g2 * 2 + 1, g2 * 2)"""))
          .select(col("doc_id").as("gid"),
            expr(s"${R(1, "g1")} + ${R(2, "g2")} + ${R(3, "g3")}")
              .as("greedy_reward"),
            col("g3").as("greedy_leaf"))
        best.join(greedy, col("doc_id") === col("gid"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_prompts"),
            sum("best_reward").as("best_mass"),
            sum("greedy_reward").as("greedy_mass"),
            sum((col("greedy_leaf") === col("best_leaf")).cast("long"))
              .as("greedy_optimal"),
            sum(col("best_reward") - col("greedy_reward"))
              .as("regret_mass"))
          .withColumn("mean_best_milli",
            expr("best_mass * 1000 div n_prompts"))
          .withColumn("mean_greedy_milli",
            expr("greedy_mass * 1000 div n_prompts"))
          // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
          .withColumn("greedy_optimal_ppm", expr(
            """CAST(CAST(greedy_optimal AS DECIMAL(38,0)) * 1000000
               div n_prompts AS BIGINT)"""))
          .select("source", "n_prompts", "best_mass", "greedy_mass",
            "regret_mass", "greedy_optimal", "greedy_optimal_ppm",
            "mean_best_milli", "mean_greedy_milli")
          .orderBy("source")
      },
      Some {
        def R(l: Int, idx: String) =
          s"""(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) ||
              '_n${l}_' || ($idx)), 1, 15)) AS BIGINT) % 10)"""
        s"""
        WITH leaves AS (
          SELECT doc_id, source, t.leaf,
                 ${R(1, "t.leaf // 4")} + ${R(2, "t.leaf // 2")}
                 + ${R(3, "t.leaf")} AS reward
          FROM documents, UNNEST(range(0, 8)) AS t(leaf)),
        best AS (
          SELECT doc_id, source, reward AS best_reward,
                 leaf AS best_leaf FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY reward DESC, leaf) AS rn
            FROM leaves) x WHERE rn = 1),
        g1t AS (
          SELECT doc_id,
                 CASE WHEN ${R(1, "1")} > ${R(1, "0")}
                      THEN 1 ELSE 0 END AS g1
          FROM documents),
        g2t AS (
          SELECT doc_id, g1,
                 CASE WHEN ${R(2, "g1 * 2 + 1")} > ${R(2, "g1 * 2")}
                      THEN g1 * 2 + 1 ELSE g1 * 2 END AS g2
          FROM g1t),
        g3t AS (
          SELECT doc_id, g1, g2,
                 CASE WHEN ${R(3, "g2 * 2 + 1")} > ${R(3, "g2 * 2")}
                      THEN g2 * 2 + 1 ELSE g2 * 2 END AS g3
          FROM g2t),
        greedy AS (
          SELECT doc_id, CAST(g3 AS BIGINT) AS greedy_leaf,
                 ${R(1, "g1")} + ${R(2, "g2")} + ${R(3, "g3")}
                   AS greedy_reward
          FROM g3t),
        rep AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_prompts,
                 CAST(SUM(best_reward) AS BIGINT) AS best_mass,
                 CAST(SUM(greedy_reward) AS BIGINT) AS greedy_mass,
                 CAST(count_if(greedy_leaf = best_leaf) AS BIGINT)
                   AS greedy_optimal,
                 CAST(SUM(best_reward - greedy_reward) AS BIGINT)
                   AS regret_mass
          FROM best JOIN greedy USING (doc_id)
          GROUP BY source)
        SELECT source, n_prompts, best_mass, greedy_mass, regret_mass,
               greedy_optimal,
               CAST(CAST(greedy_optimal AS HUGEINT) * 1000000
                 // CAST(n_prompts AS HUGEINT) AS BIGINT)
                 AS greedy_optimal_ppm,
               CAST(best_mass * 1000 // n_prompts AS BIGINT)
                 AS mean_best_milli,
               CAST(greedy_mass * 1000 // n_prompts AS BIGINT)
                 AS mean_greedy_milli
        FROM rep
        ORDER BY source"""
      })
  ,

    // --------------------------------------------------------------- q348
    // DPO implicit-reward margin audit — the preference-data health
    // check beside q297's Bradley–Terry fit and q273's pairwise eval:
    // direct preference optimization's implicit reward is the
    // policy/reference log-ratio, and a preference pair only teaches
    // when the chosen response's implicit reward exceeds the
    // rejected's. Pairs are consecutive docs (even doc_id = chosen,
    // odd = rejected — the deterministic pairing both engines derive);
    // per-doc policy/reference scores are md5 coins in centinats
    // (seed-free, repartition-stable, the q288 device), margin =
    // (polᶜ − refᶜ) − (polʳ − refʳ). The per-source report: pair
    // mass, signed margin sum (NEVER divided — truncating div on a
    // negative sum diverges between engines), absolute-margin mean,
    // and the flipped fraction — the pairs where the frozen reward
    // proxy DISAGREES with the label, the number a preference-data
    // owner triages first. 100 TB shape: one self-equi-join on
    // doc_id+1 (both sides narrow), one keyed rollup; ppm products
    // ride DECIMAL(38) ↔ HUGEINT.
    QueryDef(
      "q348_dpo_margin_audit",
      (s, dir) => {
        def sc(tag: String, idc: String) =
          s"""(CAST(conv(substr(md5(concat('$tag', CAST($idc AS STRING))),
                1, 15), 16, 10) AS BIGINT) % 1000)"""
        val d = Tables(s, dir, "documents").select("doc_id", "source")
        d.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id").as("cid"), col("source"))
          .join(d.filter(col("doc_id") % 2 === 1)
            .select(col("doc_id").as("rid")), expr("rid = cid + 1"))
          .withColumn("margin", expr(
            s"""(${sc("pol_", "cid")} - ${sc("ref_", "cid")})
                - (${sc("pol_", "rid")} - ${sc("ref_", "rid")})"""))
          .groupBy("source")
          .agg(count(lit(1)).as("n_pairs"),
            sum("margin").as("sum_margin"),
            sum(abs(col("margin"))).as("abs_margin_mass"),
            sum((col("margin") < 0).cast("long")).as("flipped_pairs"),
            max("margin").as("max_margin"),
            min("margin").as("min_margin"))
          .withColumn("mean_abs_margin_milli",
            expr("abs_margin_mass * 1000 div n_pairs"))
          // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
          .withColumn("flipped_ppm", expr(
            """CAST(CAST(flipped_pairs AS DECIMAL(38,0)) * 1000000
               div n_pairs AS BIGINT)"""))
          .select("source", "n_pairs", "sum_margin", "abs_margin_mass",
            "mean_abs_margin_milli", "flipped_pairs", "flipped_ppm",
            "max_margin", "min_margin")
          .orderBy("source")
      },
      Some {
        def sc(tag: String, idc: String) =
          s"""(CAST(concat('0x', substr(md5('$tag' ||
                CAST($idc AS VARCHAR)), 1, 15)) AS BIGINT) % 1000)"""
        s"""
        WITH pairs AS (
          SELECT c.source,
                 (${sc("pol_", "c.doc_id")} - ${sc("ref_", "c.doc_id")})
                 - (${sc("pol_", "r.doc_id")} - ${sc("ref_", "r.doc_id")})
                   AS margin
          FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
          WHERE c.doc_id % 2 = 0 AND r.doc_id % 2 = 1),
        rep AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                 CAST(SUM(margin) AS BIGINT) AS sum_margin,
                 CAST(SUM(abs(margin)) AS BIGINT) AS abs_margin_mass,
                 CAST(count_if(margin < 0) AS BIGINT) AS flipped_pairs,
                 CAST(MAX(margin) AS BIGINT) AS max_margin,
                 CAST(MIN(margin) AS BIGINT) AS min_margin
          FROM pairs GROUP BY source)
        SELECT source, n_pairs, sum_margin, abs_margin_mass,
               CAST(abs_margin_mass * 1000 // n_pairs AS BIGINT)
                 AS mean_abs_margin_milli,
               flipped_pairs,
               CAST(CAST(flipped_pairs AS HUGEINT) * 1000000
                 // CAST(n_pairs AS HUGEINT) AS BIGINT) AS flipped_ppm,
               max_margin, min_margin
        FROM rep
        ORDER BY source"""
      })
  ,

    // --------------------------------------------------------------- q349
    // Checkpoint-interval goodput planning (Young–Daly) — the
    // training-systems availability audit beside q331's expert
    // capacity and q338's KV memory: a 1000-executor run loses
    // τ/2 mean recompute per failure plus one checkpoint write per
    // interval, and the optimal interval is Young–Daly's
    // τ* = √(2·C·MTBF). MTBF comes from the events fixture's error
    // stream (exact integer: span div (n−1) inter-arrival mean); the
    // checkpoint-cost axis C ∈ {10 s, 60 s, 300 s} is a 3-row literal.
    // √ is EXACT-INTEGER: a double sqrt seed then a ±1 integer
    // correction in DECIMAL(38) (law-spec'd exhaustively around
    // perfect squares), so both engines land on the identical BIGINT
    // τ — the q325 IEEE-sqrt-exactness discipline extended with a
    // correction step because here x can exceed 2⁵². goodput_ppm =
    // 1 − C/τ − τ/(2·MTBF), each term a truncating non-negative div.
    // 100 TB shape: one filtered min/max/count over the event stream
    // (pushed to the scan), then pure 3-row literal arithmetic.
    QueryDef(
      "q349_checkpoint_goodput",
      (s, dir) => {
        // MTBF is undefined below 2 failures (ADVICE r12): nullif keeps
        // the div from fabricating a NULL/negative row and the n_fail>=2
        // filter makes a degenerate fixture produce ZERO rows — which the
        // law spec (LlmDataSpec "q349 fixture carries >= 2 error events")
        // turns into a loud red instead of a silent empty report.
        val f = Tables.events(s, dir)
          .filter(col("event_type") === "error")
          .agg(count(lit(1)).as("n_fail"),
            (max("ts_us") - min("ts_us")).as("span_us"))
          .withColumn("mtbf_us", expr("span_us div nullif(n_fail - 1, 0)"))
          .filter(col("n_fail") >= 2)
        exactIsqrt(f.withColumn("c_us", explode(expr(
            "array(10000000L, 60000000L, 300000000L)")))
          .withColumn("x", expr(
            "CAST(2 AS DECIMAL(38,0)) * c_us * mtbf_us")),
          "x", "tau_us")
          .withColumn("goodput_ppm", expr(
            """1000000 - c_us * 1000000 div tau_us
               - tau_us * 1000000 div (2 * mtbf_us)"""))
          .withColumn("ckpt_per_day", expr("86400000000 div tau_us"))
          .select("c_us", "n_fail", "mtbf_us", "tau_us", "goodput_ppm",
            "ckpt_per_day")
          .orderBy("c_us")
      },
      Some("""
        WITH f AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_fail,
                 CAST(epoch_us(CAST(MAX(ts) AS TIMESTAMP))
                   - epoch_us(CAST(MIN(ts) AS TIMESTAMP)) AS BIGINT)
                   AS span_us
          FROM events WHERE event_type = 'error'),
        m AS (SELECT n_fail, span_us,
                     span_us // nullif(n_fail - 1, 0) AS mtbf_us
              FROM f WHERE n_fail >= 2),
        ax AS (
          SELECT m.*, t.c_us,
                 CAST(2 AS HUGEINT) * t.c_us * m.mtbf_us AS x
          FROM m, UNNEST([CAST(10000000 AS BIGINT),
                          CAST(60000000 AS BIGINT),
                          CAST(300000000 AS BIGINT)]) AS t(c_us)),
        sq AS (
          SELECT ax.*,
                 CAST(floor(sqrt(CAST(x AS DOUBLE))) AS BIGINT) AS s0
          FROM ax),
        tau AS (
          SELECT sq.*,
                 CASE WHEN CAST(s0 + 1 AS HUGEINT) * (s0 + 1) <= x
                      THEN s0 + 1
                      WHEN CAST(s0 AS HUGEINT) * s0 > x THEN s0 - 1
                      ELSE s0 END AS tau_us
          FROM sq)
        SELECT c_us, n_fail, mtbf_us, CAST(tau_us AS BIGINT) AS tau_us,
               CAST(1000000 - c_us * 1000000 // tau_us
                 - tau_us * 1000000 // (2 * mtbf_us) AS BIGINT)
                 AS goodput_ppm,
               CAST(86400000000 // tau_us AS BIGINT) AS ckpt_per_day
        FROM tau
        ORDER BY c_us"""))
  ,

    // --------------------------------------------------------------- q350
    // Data-reuse epoch audit — the data-constrained-scaling planning
    // table (how many epochs each source sustains under a token
    // budget, the Muennighoff question) beside q319's quality-aware
    // water-fill: for budgets B ∈ {10⁵, 10⁶, 10⁷} demanded tokens and
    // a 4-epoch reuse ceiling, each source reports its epoch count in
    // milli (capped), the unique-token fraction of the budget it can
    // cover, and the shortfall a mixture owner must source elsewhere.
    // 100 TB shape: ONE keyed token-mass aggregate, then a ×3 literal
    // explode over ≤ sources rows; ppm products DECIMAL(38) ↔ HUGEINT.
    QueryDef(
      "q350_epoch_budget_audit",
      (s, dir) => Tables(s, dir, "documents")
        .select(col("source"),
          expr("""CAST(size(filter(split(text, ' '), w -> w <> ''))
                  AS BIGINT)""").as("l"))
        .groupBy("source").agg(sum("l").as("tokens"))
        .withColumn("budget", explode(expr(
          "array(100000L, 1000000L, 10000000L)")))
        .withColumn("epochs_milli", expr(
          "least(budget * 1000 div tokens, 4000L)"))
        // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
        .withColumn("unique_ppm", expr(
          """least(CAST(1000000 AS BIGINT),
             CAST(CAST(tokens AS DECIMAL(38,0)) * 1000000 div budget
                  AS BIGINT))"""))
        .withColumn("shortfall_tokens", expr(
          "greatest(0L, budget - tokens * 4)"))
        .select("source", "budget", "tokens", "epochs_milli",
          "unique_ppm", "shortfall_tokens")
        .orderBy("source", "budget"),
      Some("""
        WITH t AS (
          SELECT source,
                 CAST(SUM(len(list_filter(string_split(text, ' '),
                   w -> w <> ''))) AS BIGINT) AS tokens
          FROM documents GROUP BY source)
        SELECT source, b.budget, tokens,
               least(budget * 1000 // tokens, 4000) AS epochs_milli,
               least(CAST(1000000 AS BIGINT),
                 CAST(CAST(tokens AS HUGEINT) * 1000000 // budget
                      AS BIGINT)) AS unique_ppm,
               greatest(0, budget - tokens * 4) AS shortfall_tokens
        FROM t, UNNEST([CAST(100000 AS BIGINT), CAST(1000000 AS BIGINT),
                        CAST(10000000 AS BIGINT)]) AS b(budget)
        ORDER BY source, budget"""))
  ,

    // --------------------------------------------------------------- q351
    // Dataloader shard-skew audit — the straggler planning number for
    // the input pipeline itself (the component every other query here
    // assumes): docs hash onto W ∈ {8, 64, 512} loader workers (md5 —
    // seed-free, repartition-stable) and the report prices each
    // world size's balance: straggler share (max shard's token
    // fraction — the step time is the SLOWEST worker's) and skew
    // excess over perfect balance. The per-doc assignment half
    // streams at-ingest as s65. 100 TB shape: a ×3 stateless explode,
    // one (W, shard) keyed aggregate (≤ 584 cells), a ≤ 3-row rollup;
    // ppm products DECIMAL(38) ↔ HUGEINT.
    QueryDef(
      "q351_dataloader_shard_skew",
      (s, dir) => shardSkewReport(shardAssign(
        Tables(s, dir, "documents").select("doc_id", "source", "text"))),
      Some(shardSkewOracle))
  ,

    // --------------------------------------------------------------- q352
    // Best-of-n reward scaling — the inference-compute question over
    // q337's verifiable-reward samples: drawing n samples and keeping
    // the best, how does expected reward scale in n? Reuses the
    // GRPO sample frame VERBATIM (same md5 coins, so q337's groups
    // and this curve describe one dataset); best-of-n takes the max
    // over the FIRST n samples (prefix semantics — the draws an
    // operator actually has after n samples), n ∈ {1, 2, 4, 8}. The
    // per-(source, n) report is the exact success curve a compute
    // planner reads the knee off. bon is monotone nondecreasing in n
    // by construction — law-spec'd exhaustively over all 256 reward
    // patterns. The per-sample half streams at-ingest as s66. 100 TB
    // shape: one keyed per-prompt aggregate (4 conditional maxes),
    // a 4-row stack, a ≤ sources×4 rollup.
    QueryDef(
      "q352_best_of_n_scaling",
      (s, dir) => bonReport(grpoSamples(
        Tables(s, dir, "documents").select("doc_id", "source"))),
      Some(bonOracle))
  ,

    // --------------------------------------------------------------- q353
    // Generation repetition-loop audit — the degeneracy fingerprint a
    // synthetic-data gate runs before model outputs re-enter training
    // (greedy decoding's classic failure: "the the the", "ab cd ab
    // cd"): per doc, immediate-repeat mass (tokᵢ = tokᵢ₊₁),
    // period-2 alternation mass (tokᵢ = tokᵢ₊₂), and the longest
    // immediate-repeat run; per source, the loop-infected doc count
    // (run ≥ 3 tokens). The fixture prose carries no loops, so two
    // deterministic plant families (doc_id % 13 = 5 appends a 4-token
    // repeat run, % 17 = 3 a period-2 tail — same arithmetic in both
    // engines) prove detection; run coalescing is law-spec'd against
    // a plain-Scala simulator on adversarial strings. 100 TB shape:
    // per-doc windows only (bounded by doc length), keyed rollups —
    // no global window, no self-join.
    QueryDef(
      "q353_repetition_loops",
      (s, dir) => loopReport(loopPlanted(
        Tables(s, dir, "documents").select("doc_id", "source", "text"))),
      Some(loopOracle))
  ,

    // --------------------------------------------------------------- q354
    // Annotation-budget committee router — the labeling-spend planner
    // on top of q343's reliability model: a 3-member md5-coin
    // committee pre-screens every doc, and the router assigns
    // annotator counts by agreement — unanimous-easy docs get 1 human
    // pass, split votes get 3, unanimous-hard get 5 (the
    // active-learning triage that makes a fixed labeling budget reach
    // 3-5× more data). Report per source: tier populations, expected
    // annotation cost, the saving vs the all-5 baseline, and the
    // committee disagreement rate. Tier law (cost = n1 + 3·n3 + 5·n5,
    // tiers partition docs) is spec'd exhaustively over all 8 vote
    // patterns. 100 TB shape: pure per-row vote arithmetic (no
    // explode — the 3 coins are 3 columns), one keyed rollup.
    QueryDef(
      "q354_annotation_budget_router",
      (s, dir) => routerReport(committeeVotes(
        Tables(s, dir, "documents").select("doc_id", "source"))),
      Some(routerOracle))
  ,

    // --------------------------------------------------------------- q355
    // Canary recovery audit — the planted-probe memorization protocol
    // (insert synthetic canaries at a known rate, later measure how
    // many a model can regurgitate) beside q341's organic n-gram
    // exposure: docs at doc_id % 31 = 7 carry a canary token
    // `canary_<8 hex>` (md5-derived — unique, realistic), docs at
    // % 37 = 11 a NEAR-canary decoy (7 hex + 'z' — must NOT match),
    // and the detector is the extraction regex alone
    // (`canary_[0-9a-f]{8}`), never the plant arithmetic. The report
    // reconciles detection against the plant schedule per source:
    // recovered must be exactly planted (ppm = 1e6) and decoy
    // matches exactly zero — both spec-asserted. 100 TB shape: one
    // stateless codegen regex pass, one keyed rollup.
    QueryDef(
      "q355_canary_recovery",
      (s, dir) => canaryReport(canaryPlanted(
        Tables(s, dir, "documents").select("doc_id", "source", "text"))),
      Some(canaryOracle))
  ,

    // --------------------------------------------------------------- q356
    // Curriculum phase schedule — the easy-to-hard data ordering
    // audit (curriculum learning's data-side half) beside q319's
    // budgets and q350's epochs: sources rank by a difficulty proxy
    // (token-weighted mean word length in milli — integer-exact),
    // split into 3 curriculum phases by rank thirds, and each phase
    // reports its source count, token mass, corpus share, and
    // difficulty band. The phase split is (rank−1)·3 div n — exact
    // thirds both engines — and phases are provably monotone: phase
    // p+1's easiest source is no easier than phase p's hardest
    // (spec-asserted). 100 TB shape: one keyed per-source aggregate,
    // then windows over ≤ sources rows only.
    QueryDef(
      "q356_curriculum_phases",
      (s, dir) => {
        val src = Tables(s, dir, "documents")
          .select(col("source"),
            expr("""CAST(size(filter(split(text, ' '), w -> w <> ''))
                    AS BIGINT)""").as("l"),
            expr("""CAST(length(replace(text, ' ', '')) AS BIGINT)""")
              .as("ch"))
          .groupBy("source")
          .agg(count(lit(1)).as("docs"), sum("l").as("tokens"),
            sum("ch").as("chars"))
          .withColumn("difficulty_milli",
            expr("chars * 1000 div tokens"))
        val wAll = Window.partitionBy() // ≤ sources rows by construction
        val ranked = src
          .withColumn("rk", row_number().over(
            Window.orderBy(col("difficulty_milli"), col("source")))
            .cast("long")) // ≤ sources rows by construction
          .withColumn("ns", count(lit(1)).over(wAll).cast("long"))
          .withColumn("phase", expr("(rk - 1) * 3 div ns + 1"))
        val tot = ranked.agg(sum("tokens").as("tt"))
        ranked.groupBy("phase")
          .agg(count(lit(1)).as("n_sources"),
            sum("docs").as("n_docs"),
            sum("tokens").as("tokens"),
            min("difficulty_milli").as("min_difficulty_milli"),
            max("difficulty_milli").as("max_difficulty_milli"),
            expr("""CAST(sum(chars) * 1000 div sum(tokens) AS BIGINT)""")
              .as("band_difficulty_milli"))
          .crossJoin(broadcast(tot))
          // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
          .withColumn("token_share_ppm", expr(
            """CAST(CAST(tokens AS DECIMAL(38,0)) * 1000000 div tt
               AS BIGINT)"""))
          .select("phase", "n_sources", "n_docs", "tokens",
            "token_share_ppm", "min_difficulty_milli",
            "max_difficulty_milli", "band_difficulty_milli")
          .orderBy("phase")
      },
      Some("""
        WITH src AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
                 CAST(SUM(len(list_filter(string_split(text, ' '),
                   w -> w <> ''))) AS BIGINT) AS tokens,
                 CAST(SUM(len(replace(text, ' ', ''))) AS BIGINT)
                   AS chars,
                 CAST(SUM(len(replace(text, ' ', ''))) * 1000
                   // SUM(len(list_filter(string_split(text, ' '),
                        w -> w <> ''))) AS BIGINT) AS difficulty_milli
          FROM documents GROUP BY source),
        ranked AS (
          SELECT src.*,
                 row_number() OVER (ORDER BY difficulty_milli, source)
                   AS rk,
                 CAST(COUNT(*) OVER () AS BIGINT) AS ns
          FROM src),
        ph AS (
          SELECT *, (rk - 1) * 3 // ns + 1 AS phase FROM ranked),
        tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tt FROM ph),
        rep AS (
          SELECT phase, CAST(COUNT(*) AS BIGINT) AS n_sources,
                 CAST(SUM(docs) AS BIGINT) AS n_docs,
                 CAST(SUM(tokens) AS BIGINT) AS tokens,
                 CAST(MIN(difficulty_milli) AS BIGINT)
                   AS min_difficulty_milli,
                 CAST(MAX(difficulty_milli) AS BIGINT)
                   AS max_difficulty_milli,
                 CAST(SUM(chars) * 1000 // SUM(tokens) AS BIGINT)
                   AS band_difficulty_milli
          FROM ph GROUP BY phase)
        SELECT CAST(phase AS BIGINT) AS phase, n_sources, n_docs, tokens,
               CAST(CAST(tokens AS HUGEINT) * 1000000
                 // CAST(tt AS HUGEINT) AS BIGINT) AS token_share_ppm,
               min_difficulty_milli, max_difficulty_milli,
               band_difficulty_milli
        FROM rep, tot
        ORDER BY phase"""))
  ,

    // --------------------------------------------------------------- q357
    // Structured-output validity gate — the tool-call / JSON-mode
    // acceptance check a synthetic-data pipeline runs before model
    // outputs re-enter training (q335 gates secrets, q353 gates
    // loops; this gates SHAPE): each doc's "model output" is the
    // fixture prose (never valid JSON) except two plant families —
    // % 43 = 17 emits a well-formed `{"answer": <id>, "ok": true}`
    // and % 47 = 19 the same object TRUNCATED mid-stream (the classic
    // max-tokens cutoff). The gate is `from_json` PERMISSIVE (the P1
    // pipeline device): a row is valid iff the typed answer field
    // materializes; DuckDB mirrors with json_valid + json_extract.
    // Valid must equal the well-formed plant count exactly and every
    // truncated plant must reject — both spec-asserted. 100 TB shape:
    // one stateless codegen parse pass, one keyed rollup.
    QueryDef(
      "q357_structured_output_gate",
      (s, dir) => {
        val out = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), expr(
            """CASE WHEN doc_id % 43 = 17
                 THEN concat('{"answer": ', CAST(doc_id AS STRING),
                             ', "ok": true}')
               WHEN doc_id % 47 = 19
                 THEN concat('{"answer": ', CAST(doc_id AS STRING), ', ')
               ELSE text END""").as("out"))
          .withColumn("parsed",
            from_json(col("out"), org.apache.spark.sql.types.StructType(
              Seq(org.apache.spark.sql.types.StructField("answer",
                org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField("ok",
                  org.apache.spark.sql.types.BooleanType)))))
          .withColumn("valid",
            (col("parsed.answer").isNotNull &&
              col("parsed.ok").isNotNull).cast("long"))
        out.groupBy("source")
          .agg(count(lit(1)).as("n_outputs"),
            sum("valid").as("n_valid"),
            sum(when(col("valid") === 1L, col("parsed.answer"))
              .otherwise(0L)).as("answer_mass"))
          // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
          .withColumn("valid_ppm", expr(
            """CAST(CAST(n_valid AS DECIMAL(38,0)) * 1000000
               div n_outputs AS BIGINT)"""))
          .select("source", "n_outputs", "n_valid", "valid_ppm",
            "answer_mass")
          .orderBy("source")
      },
      Some("""
        WITH outs AS (
          SELECT doc_id, source,
                 CASE WHEN doc_id % 43 = 17
                   THEN '{"answer": ' || CAST(doc_id AS VARCHAR) ||
                        ', "ok": true}'
                 WHEN doc_id % 47 = 19
                   THEN '{"answer": ' || CAST(doc_id AS VARCHAR) || ', '
                 ELSE text END AS o
          FROM documents),
        gated AS (
          SELECT doc_id, source,
                 CASE WHEN json_valid(o)
                       AND json_extract(o, '$.answer') IS NOT NULL
                       AND json_extract(o, '$.ok') IS NOT NULL
                      THEN 1 ELSE 0 END AS valid,
                 CASE WHEN json_valid(o)
                      THEN TRY_CAST(json_extract_string(o, '$.answer')
                        AS BIGINT) ELSE NULL END AS ans
          FROM outs)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_outputs,
               CAST(SUM(valid) AS BIGINT) AS n_valid,
               CAST(CAST(SUM(valid) AS HUGEINT) * 1000000
                 // CAST(COUNT(*) AS HUGEINT) AS BIGINT) AS valid_ppm,
               CAST(SUM(CASE WHEN valid = 1 THEN ans ELSE 0 END)
                 AS BIGINT) AS answer_mass
        FROM gated
        GROUP BY source
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q358
    // Vocabulary coverage knee — the tokenizer-sizing curve q52's
    // top-k and q84's OOV rate bracket but never answer: how many
    // vocabulary entries buy {50%, 90%, 99%} token coverage? Exact
    // greedy argument: the optimal vocab of any size takes words in
    // frequency-descending order, and within one frequency class
    // words are interchangeable, so the knee has a CLOSED FORM —
    // cumulate (freq, word-count) classes frequency-desc, then inside
    // the first class crossing the target take ⌈need/f⌉ extra words.
    // All ceil arithmetic integer-exact in both engines. 100 TB
    // shape: word-count aggregate, then a (freq → class) aggregate
    // that bounds every later frame by DISTINCT FREQUENCIES (≪ vocab,
    // the q322 device); the one ordered window rides that bounded
    // frame; the 3 thresholds are a literal explode.
    QueryDef(
      "q358_vocab_coverage_knee",
      (s, dir) => {
        val fgrp = Tables(s, dir, "documents")
          .select(explode(expr("filter(split(text, ' '), w -> w <> '')"))
            .as("w"))
          .groupBy("w").agg(count(lit(1)).as("f"))
          .groupBy("f").agg(count(lit(1)).as("nw"))
          .withColumn("mass", expr("f * nw"))
        // cumulative over f DESC: distinct-frequency-bounded frame
        val wOrd = Window.orderBy(col("f").desc) // ≤ distinct freqs
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = fgrp
          .withColumn("cum_mass", sum("mass").over(wOrd))
          .withColumn("cum_nw", sum("nw").over(wOrd))
        val tot = cum.agg(max("cum_mass").as("tt"),
          max("cum_nw").as("vocab_full"))
        cum.crossJoin(broadcast(tot))
          .withColumn("thr_ppm", explode(expr(
            "array(500000L, 900000L, 990000L)")))
          // DECIMAL(38) ↔ HUGEINT: need = ceil(T·thr / 1e6)
          .withColumn("need", expr(
            """CAST((CAST(tt AS DECIMAL(38,0)) * thr_ppm + 999999)
               div 1000000 AS BIGINT)"""))
          .filter(col("cum_mass") >= col("need") &&
            col("cum_mass") - col("mass") < col("need"))
          .select(col("thr_ppm"),
            (col("cum_nw") - col("nw") +
              expr("(need - (cum_mass - mass) + f - 1) div f"))
              .as("vocab_size"),
            (col("cum_mass") - col("mass") +
              expr("((need - (cum_mass - mass) + f - 1) div f) * f"))
              .as("tokens_covered"),
            col("tt").as("total_tokens"),
            col("vocab_full"))
          // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
          .withColumn("coverage_ppm", expr(
            """CAST(CAST(tokens_covered AS DECIMAL(38,0)) * 1000000
               div total_tokens AS BIGINT)"""))
          .withColumn("vocab_share_ppm", expr(
            """CAST(CAST(vocab_size AS DECIMAL(38,0)) * 1000000
               div vocab_full AS BIGINT)"""))
          .select("thr_ppm", "vocab_size", "vocab_share_ppm",
            "tokens_covered", "coverage_ppm", "total_tokens",
            "vocab_full")
          .orderBy("thr_ppm")
      },
      Some("""
        WITH words AS (
          SELECT unnest(list_filter(string_split(text, ' '),
            w -> w <> '')) AS w
          FROM documents),
        freq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f
                 FROM words GROUP BY w),
        fgrp AS (
          SELECT f, CAST(COUNT(*) AS BIGINT) AS nw,
                 CAST(f * COUNT(*) AS BIGINT) AS mass
          FROM freq GROUP BY f),
        cum AS (
          SELECT f, nw, mass,
                 CAST(SUM(mass) OVER (ORDER BY f DESC) AS BIGINT)
                   AS cum_mass,
                 CAST(SUM(nw) OVER (ORDER BY f DESC) AS BIGINT)
                   AS cum_nw
          FROM fgrp),
        tot AS (SELECT MAX(cum_mass) AS tt, MAX(cum_nw) AS vocab_full
                FROM cum),
        knee AS (
          SELECT t.thr_ppm, c.*, tot.tt, tot.vocab_full,
                 CAST((CAST(tot.tt AS HUGEINT) * t.thr_ppm + 999999)
                   // 1000000 AS BIGINT) AS need
          FROM cum c, tot,
               UNNEST([CAST(500000 AS BIGINT), CAST(900000 AS BIGINT),
                       CAST(990000 AS BIGINT)]) AS t(thr_ppm)
          WHERE c.cum_mass >= CAST((CAST(tot.tt AS HUGEINT) * t.thr_ppm
                  + 999999) // 1000000 AS BIGINT)
            AND c.cum_mass - c.mass < CAST((CAST(tot.tt AS HUGEINT)
                  * t.thr_ppm + 999999) // 1000000 AS BIGINT)),
        rep AS (
          SELECT thr_ppm,
                 cum_nw - nw + (need - (cum_mass - mass) + f - 1) // f
                   AS vocab_size,
                 cum_mass - mass
                   + ((need - (cum_mass - mass) + f - 1) // f) * f
                   AS tokens_covered,
                 tt AS total_tokens, vocab_full
          FROM knee)
        SELECT thr_ppm, CAST(vocab_size AS BIGINT) AS vocab_size,
               CAST(CAST(vocab_size AS HUGEINT) * 1000000
                 // CAST(vocab_full AS HUGEINT) AS BIGINT)
                 AS vocab_share_ppm,
               CAST(tokens_covered AS BIGINT) AS tokens_covered,
               CAST(CAST(tokens_covered AS HUGEINT) * 1000000
                 // CAST(total_tokens AS HUGEINT) AS BIGINT)
                 AS coverage_ppm,
               total_tokens, vocab_full
        FROM rep
        ORDER BY thr_ppm"""))
  ,

    // --------------------------------------------------------------- q359
    // Reward-model calibration audit (reliability diagram + ECE) —
    // whether the reward proxy's CONFIDENCE means anything, the
    // question q337's pass rates and q352's scaling curve both
    // presuppose: each prompt carries a predicted pass probability
    // (md5 coin, milli) and an empirical pass rate over its 8 GRPO
    // samples (gsum·125 milli — exact eighths); prompts bucket into
    // confidence deciles and the report is the reliability diagram —
    // per decile, predicted vs empirical mean — plus the corpus ECE.
    // ECE stays integer-exact via the mass identity n_b·|mean gap| =
    // |pred_mass_b − emp_mass_b| (no per-bucket division before the
    // final div, law-spec'd). 100 TB shape: the shared grpoSamples
    // aggregate, one keyed decile rollup, a ≤ 10-row broadcast.
    QueryDef(
      "q359_reward_calibration",
      (s, dir) => {
        val g = grpoSamples(
          Tables(s, dir, "documents").select("doc_id", "source"))
          .groupBy("doc_id").agg(sum("r").as("gsum"))
          .withColumn("conf_milli", expr(
            """CAST(conv(substr(md5(concat('cf_',
                  CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)
               % 1000"""))
          .withColumn("bucket", expr("conf_milli div 100"))
        val b = g.groupBy("bucket")
          .agg(count(lit(1)).as("n_prompts"),
            sum("conf_milli").as("pred_mass"),
            sum(expr("gsum * 125")).as("emp_mass"))
          .withColumn("pred_mean_milli", expr("pred_mass div n_prompts"))
          .withColumn("emp_mean_milli", expr("emp_mass div n_prompts"))
          .withColumn("gap_mass", abs(col("pred_mass") - col("emp_mass")))
        val ece = b.agg(sum("gap_mass").as("gm"),
          sum("n_prompts").as("np"))
          .select(expr("gm div np").as("ece_milli"))
        b.crossJoin(broadcast(ece))
          .select("bucket", "n_prompts", "pred_mean_milli",
            "emp_mean_milli", "gap_mass", "ece_milli")
          .orderBy("bucket")
      },
      Some("""
        WITH samples AS (
          SELECT doc_id, t.s AS samp,
                 CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) ||
                   '_s' || t.s), 1, 15)) AS BIGINT) % 2 AS r
          FROM documents, UNNEST(range(0, 8)) AS t(s)),
        g AS (
          SELECT doc_id, CAST(SUM(r) AS BIGINT) AS gsum,
                 CAST(concat('0x', substr(md5('cf_' ||
                   CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000
                   AS conf_milli
          FROM samples GROUP BY doc_id),
        b AS (
          SELECT conf_milli // 100 AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS n_prompts,
                 CAST(SUM(conf_milli) AS BIGINT) AS pred_mass,
                 CAST(SUM(gsum * 125) AS BIGINT) AS emp_mass
          FROM g GROUP BY conf_milli // 100),
        ece AS (
          SELECT CAST(SUM(abs(pred_mass - emp_mass)) // SUM(n_prompts)
            AS BIGINT) AS ece_milli
          FROM b)
        SELECT CAST(bucket AS BIGINT) AS bucket, n_prompts,
               CAST(pred_mass // n_prompts AS BIGINT)
                 AS pred_mean_milli,
               CAST(emp_mass // n_prompts AS BIGINT) AS emp_mean_milli,
               CAST(abs(pred_mass - emp_mass) AS BIGINT) AS gap_mass,
               ece_milli
        FROM b, ece
        ORDER BY bucket"""))
  ,

    // --------------------------------------------------------------- q360
    // Mixture reweighting, one multiplicative-weights step (the
    // DoReMi recipe linearized to stay integer-exact) — the next
    // round's sampling weights from this round's per-source excess
    // loss: proxy per-doc loss (md5 milli), per-source mean vs the
    // corpus mean, excess = max(0, source − corpus), score = 1e6 +
    // η·excess (η = 4, the exp() step's first-order expansion —
    // exact integers instead of a float exp that can't cross the
    // hash gate), new weight = score normalized over sources.
    // Laws (spec'd): weights sum to 1e6 up to per-source truncation,
    // and reweighting is monotone in excess. 100 TB shape: one keyed
    // per-source aggregate, one ≤ sources-row normalize.
    QueryDef(
      "q360_mixture_reweight",
      (s, dir) => {
        val src = Tables(s, dir, "documents")
          .select(col("source"), expr(
            """CAST(conv(substr(md5(concat('ls_',
                  CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)
               % 1000""").as("loss_milli"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("loss_milli").as("lm"))
          .withColumn("mean_loss_milli", expr("lm div n_docs"))
        val corp = src.agg(sum("lm").as("clm"), sum("n_docs").as("cn"))
          .select(expr("clm div cn").as("corpus_mean_milli"))
        val scored = src.crossJoin(broadcast(corp))
          .withColumn("excess_milli",
            expr("greatest(0L, mean_loss_milli - corpus_mean_milli)"))
          .withColumn("score", expr("1000000 + 4 * excess_milli"))
        val norm = scored.agg(sum("score").as("ts"))
        scored.crossJoin(broadcast(norm))
          // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
          .withColumn("new_weight_ppm", expr(
            """CAST(CAST(score AS DECIMAL(38,0)) * 1000000 div ts
               AS BIGINT)"""))
          .select("source", "n_docs", "mean_loss_milli",
            "corpus_mean_milli", "excess_milli", "score",
            "new_weight_ppm")
          .orderBy("source")
      },
      Some("""
        WITH d AS (
          SELECT source,
                 CAST(concat('0x', substr(md5('ls_' ||
                   CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000
                   AS loss_milli
          FROM documents),
        src AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(loss_milli) AS BIGINT) AS lm,
                 CAST(SUM(loss_milli) // COUNT(*) AS BIGINT)
                   AS mean_loss_milli
          FROM d GROUP BY source),
        corp AS (
          SELECT CAST(SUM(lm) // SUM(n_docs) AS BIGINT)
            AS corpus_mean_milli
          FROM src),
        scored AS (
          SELECT src.*, corp.corpus_mean_milli,
                 greatest(0, mean_loss_milli - corpus_mean_milli)
                   AS excess_milli,
                 1000000 + 4 * greatest(0,
                   mean_loss_milli - corpus_mean_milli) AS score
          FROM src, corp),
        norm AS (SELECT CAST(SUM(score) AS BIGINT) AS ts FROM scored)
        SELECT source, n_docs, mean_loss_milli, corpus_mean_milli,
               CAST(excess_milli AS BIGINT) AS excess_milli,
               CAST(score AS BIGINT) AS score,
               CAST(CAST(score AS HUGEINT) * 1000000
                 // CAST(ts AS HUGEINT) AS BIGINT) AS new_weight_ppm
        FROM scored, norm
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q361
    // Gradient-noise-scale estimate (the critical-batch-size audit, the
    // McCandlish B_simple recipe made integer-exact): per event_type,
    // per-row values proxy per-example gradient contributions, batches
    // are user_id % 16, and the between-batch second moment vs the
    // squared mean gives noise_ppm = 1e6·(B·Σg² − (Σg)²)/(Σg)² — the
    // relative batch-gradient variance whose product with B is the
    // B_crit heuristic. Cauchy–Schwarz keeps the numerator ≥ 0, so
    // every div is non-negative truncating; Σg² runs in DECIMAL(38)
    // (cents² × corpus is past BIGINT at sf ≥ 1). 100 TB shape: one
    // keyed (type, batch) partial-agg shuffle, then a ≤ 16-row-per-type
    // rollup. The per-row half is stateless (s68 streams it).
    QueryDef(
      "q361_gradient_noise_scale",
      (s, dir) => gnsReport(gnsProject(Tables(s, dir, "events"))),
      Some(gnsOracle))
  ,

    // --------------------------------------------------------------- q362
    // LR-schedule audit (linear warmup → inverse-sqrt decay, the
    // Transformer schedule) evaluated at per-source checkpoint steps:
    // each source's token mass fixes its step count (batch = 8 tokens),
    // and lr_ppm at step t is base·t/W during warmup, then
    // isqrt(base²·W div t) — the q349 exact-integer-sqrt device, so
    // both engines land on the identical BIGINT without a float pow.
    // Laws (spec'd): continuity at t = W (both formulas give base) and
    // monotone non-increasing decay, proven by simulator. 100 TB
    // shape: one keyed token-mass aggregate then ≤ 5-row-per-source
    // literal arithmetic.
    QueryDef(
      "q362_lr_schedule_audit",
      (s, dir) => {
        val src = Tables(s, dir, "documents")
          .select(col("source"),
            expr("""CAST(size(filter(split(text, ' '), w -> w <> ''))
                    AS BIGINT)""").as("l"))
          .groupBy("source").agg(sum("l").as("toks"))
          .withColumn("steps_total", expr("greatest(toks div 8, 1L)"))
        val at = src
          .withColumn("ck", explode(expr(
            "array(1L, 50L, 100L, 200L, steps_total)")))
          .withColumn("t", expr("least(greatest(ck, 1L), steps_total)"))
          .select("source", "steps_total", "t").distinct()
        exactIsqrt(
          at.withColumn("x", expr("CAST(25000000 div t AS DECIMAL(38,0))")),
          "x", "lr_sqrt")
          .withColumn("lr_ppm", expr(
            "CASE WHEN t <= 100 THEN 500 * t div 100 ELSE lr_sqrt END"))
          .withColumn("phase", expr(
            "CASE WHEN t <= 100 THEN 'warmup' ELSE 'decay' END"))
          .select("source", "steps_total", "t", "phase", "lr_ppm")
          .orderBy("source", "t")
      },
      Some("""
        WITH d AS (
          SELECT source,
                 CAST(len(list_filter(string_split(text, ' '),
                   w -> w <> '')) AS BIGINT) AS l
          FROM documents),
        src AS (
          SELECT source, greatest(CAST(SUM(l) AS BIGINT) // 8, 1)
                   AS steps_total
          FROM d GROUP BY source),
        at AS (
          SELECT DISTINCT source, steps_total,
                 least(greatest(ck, 1), steps_total) AS t
          FROM src, UNNEST([CAST(1 AS BIGINT), CAST(50 AS BIGINT),
                            CAST(100 AS BIGINT), CAST(200 AS BIGINT)])
                   AS c(ck)
          UNION
          SELECT DISTINCT source, steps_total, steps_total AS t FROM src),
        sq AS (
          SELECT at.*, 25000000 // t AS x,
                 CAST(floor(sqrt(CAST(25000000 // t AS DOUBLE)))
                   AS BIGINT) AS s0
          FROM at),
        isq AS (
          SELECT sq.*,
                 CASE WHEN CAST(s0 + 1 AS HUGEINT) * (s0 + 1) <= x
                      THEN s0 + 1
                      WHEN CAST(s0 AS HUGEINT) * s0 > x THEN s0 - 1
                      ELSE s0 END AS lr_sqrt
          FROM sq)
        SELECT source, steps_total, t,
               CASE WHEN t <= 100 THEN 'warmup' ELSE 'decay' END AS phase,
               CAST(CASE WHEN t <= 100 THEN 500 * t // 100
                         ELSE lr_sqrt END AS BIGINT) AS lr_ppm
        FROM isq
        ORDER BY source, t"""))
  ,

    // --------------------------------------------------------------- q363
    // N-gram novelty rate — the diminishing-returns curve input (what
    // fraction of each source's 5-grams first occur there, in doc_id
    // order): gram → min(doc_id) is one equi-keyed aggregate, the
    // join back is gram-keyed, and the per-doc/per-source rollups are
    // keyed counts. The gram string never rides a shuffle — grams
    // travel as md5-prefix BIGINTs (identical hash both engines), the
    // q25 digest discipline. 100 TB shape: gram-hash-keyed shuffles
    // only; novelty at that scale is the same first-occurrence
    // aggregate with doc_id as the arrival order.
    QueryDef(
      "q363_ngram_novelty",
      (s, dir) => {
        val g = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(call_function("graft_word_ngrams",
              col("text"), lit(5))).as("gram"))
          .select(col("doc_id"), col("source"), expr(
            """CAST(conv(substr(md5(gram), 1, 15), 16, 10) AS BIGINT)""")
            .as("h"))
          .distinct()
        val firsts = g.groupBy("h").agg(min("doc_id").as("first_id"))
        g.join(firsts, Seq("h"))
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_grams"),
            sum((col("first_id") === col("doc_id")).cast("long"))
              .as("novel"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_grams").as("gram_mass"),
            sum("novel").as("novel_mass"))
          // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
          .withColumn("novelty_ppm", expr(
            """CAST(CAST(novel_mass AS DECIMAL(38,0)) * 1000000
               div nullif(gram_mass, 0) AS BIGINT)"""))
          .select("source", "n_docs", "gram_mass", "novel_mass",
            "novelty_ppm")
          .orderBy("source")
      },
      Some("""
        WITH g0 AS (
          SELECT DISTINCT doc_id, source,
                 UNNEST(list_transform(range(1, len(ws) - 3),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] ||
                             ' ' || ws[i+3] || ' ' || ws[i+4])) AS gram
          FROM (SELECT doc_id, source, string_split(text, ' ') AS ws
                FROM documents)),
        g AS (
          SELECT DISTINCT doc_id, source,
                 CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT)
                   AS h
          FROM g0),
        firsts AS (SELECT h, MIN(doc_id) AS first_id FROM g GROUP BY h),
        perdoc AS (
          SELECT g.doc_id, g.source,
                 CAST(COUNT(*) AS BIGINT) AS n_grams,
                 CAST(SUM(CASE WHEN f.first_id = g.doc_id
                               THEN 1 ELSE 0 END) AS BIGINT) AS novel
          FROM g JOIN firsts f ON g.h = f.h
          GROUP BY g.doc_id, g.source)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_grams) AS BIGINT) AS gram_mass,
               CAST(SUM(novel) AS BIGINT) AS novel_mass,
               CAST(CAST(SUM(novel) AS HUGEINT) * 1000000
                 // nullif(CAST(SUM(n_grams) AS HUGEINT), 0) AS BIGINT)
                 AS novelty_ppm
        FROM perdoc
        GROUP BY source
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q364
    // Event-time order-skew audit — the ingestion-health number every
    // watermark choice depends on: within each user's event_id
    // sequence, an event is LATE when its ts precedes the running max
    // of its predecessors; per event_type the report carries the late
    // rate and the worst/total backward jump (= the watermark delay
    // that would have covered it). The running max rides a per-user
    // ROWS window (bounded: ≤ that user's event count), exactly the
    // partition-keyed shape that scales — no global order anywhere.
    QueryDef(
      "q364_event_order_skew",
      (s, dir) => {
        // bounded: per-user frame, ≤ that user's event count
        val w = Window.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("ts_us"))
          .withColumn("prev_max", max("ts_us").over(w))
          .withColumn("late",
            (col("prev_max").isNotNull &&
              col("ts_us") < col("prev_max")).cast("long"))
          .withColumn("backward_us", expr(
            "CASE WHEN prev_max IS NULL THEN 0L " +
              "ELSE greatest(0L, prev_max - ts_us) END"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum("late").as("late_events"),
            max("backward_us").as("max_backward_us"),
            sum("backward_us").as("sum_backward_us"))
          .withColumn("late_ppm",
            expr("late_events * 1000000 div n_events"))
          .select("event_type", "n_events", "late_events", "late_ppm",
            "max_backward_us", "sum_backward_us")
          .orderBy("event_type")
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
          FROM events),
        m AS (
          SELECT event_type, ts_us,
                 MAX(ts_us) OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max
          FROM e),
        x AS (
          SELECT event_type,
                 CASE WHEN prev_max IS NOT NULL AND ts_us < prev_max
                      THEN 1 ELSE 0 END AS late,
                 CASE WHEN prev_max IS NULL THEN 0
                      ELSE greatest(0, prev_max - ts_us) END AS backward_us
          FROM m)
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(late) AS BIGINT) AS late_events,
               CAST(SUM(late) * 1000000 // COUNT(*) AS BIGINT) AS late_ppm,
               CAST(MAX(backward_us) AS BIGINT) AS max_backward_us,
               CAST(SUM(backward_us) AS BIGINT) AS sum_backward_us
        FROM x
        GROUP BY event_type
        ORDER BY event_type"""))
  ,

    // --------------------------------------------------------------- q365
    // Chat-template loss-mask accounting — SFT fine-tuning masks the
    // user turns and trains only on assistant tokens; with the
    // deterministic 16-token alternating-turn template (positions
    // 0-15 user, 16-31 assistant, repeating) the trainable count has
    // the CLOSED FORM (L div 32)·16 + max(0, L mod 32 − 16), so the
    // per-doc half is pure per-row arithmetic — no explode, no window
    // — which is what lets s69 stream it inside the tick. Law
    // (spec'd): the closed form equals the position-by-position
    // simulation for every L ≤ 200. 100 TB shape: stateless map +
    // one keyed per-source aggregate.
    QueryDef(
      "q365_chat_mask_accounting",
      (s, dir) => maskReport(maskAssign(Tables(s, dir, "documents"))),
      Some(maskOracle))
  ,

    // --------------------------------------------------------------- q366
    // Context-parallel padding waste — sequence-parallel training pads
    // each doc to a multiple of cp·64 tokens (the per-rank quantum) so
    // ranks split evenly; the audit reports, per cp ∈ {1,2,4,8}, the
    // padded-token overhead a packing scheduler must win back. Laws
    // (spec'd by exhaustive simulator): padded is the least multiple
    // of the quantum ≥ L, and 0 ≤ waste < quantum. 100 TB shape: a ×4
    // stateless literal explode then one keyed aggregate.
    QueryDef(
      "q366_context_parallel_padding",
      (s, dir) => Tables(s, dir, "documents")
        .select(expr("""CAST(size(filter(split(text, ' '), w -> w <> ''))
                        AS BIGINT)""").as("l"))
        .withColumn("cp", explode(expr("array(1L, 2L, 4L, 8L)")))
        .withColumn("q", expr("cp * 64"))
        .withColumn("padded", expr(
          "CASE WHEN l = 0 THEN 0L ELSE ((l + q - 1) div q) * q END"))
        .groupBy("cp")
        .agg(count(lit(1)).as("n_docs"),
          sum("l").as("raw_tokens"),
          sum("padded").as("padded_tokens"))
        .withColumn("waste_tokens", expr("padded_tokens - raw_tokens"))
        // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
        .withColumn("waste_ppm", expr(
          """CAST(CAST(padded_tokens - raw_tokens AS DECIMAL(38,0))
             * 1000000 div nullif(padded_tokens, 0) AS BIGINT)"""))
        .select("cp", "n_docs", "raw_tokens", "padded_tokens",
          "waste_tokens", "waste_ppm")
        .orderBy("cp"),
      Some("""
        WITH d AS (
          SELECT CAST(len(list_filter(string_split(text, ' '),
                   w -> w <> '')) AS BIGINT) AS l
          FROM documents),
        x AS (
          SELECT l, cp, cp * 64 AS q,
                 CASE WHEN l = 0 THEN 0
                      ELSE ((l + cp * 64 - 1) // (cp * 64)) * cp * 64
                 END AS padded
          FROM d, UNNEST([CAST(1 AS BIGINT), CAST(2 AS BIGINT),
                          CAST(4 AS BIGINT), CAST(8 AS BIGINT)]) AS t(cp))
        SELECT cp, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(l) AS BIGINT) AS raw_tokens,
               CAST(SUM(padded) AS BIGINT) AS padded_tokens,
               CAST(SUM(padded) - SUM(l) AS BIGINT) AS waste_tokens,
               CAST(CAST(SUM(padded) - SUM(l) AS HUGEINT) * 1000000
                 // nullif(CAST(SUM(padded) AS HUGEINT), 0) AS BIGINT)
                 AS waste_ppm
        FROM x
        GROUP BY cp
        ORDER BY cp"""))
  ,

    // --------------------------------------------------------------- q368
    // Language × source independence (contingency chi-square, integer-
    // exact) — the corpus-composition audit behind mixture decisions:
    // is language distribution uniform across sources or do sources
    // specialize? χ² cell = (obs·N − row·col)² / (N·row·col) in micro
    // units (the numerator is a perfect square so every div is
    // non-negative truncating; DECIMAL(38) ↔ HUGEINT for the square).
    // Width (ADVICE r13): the micro scaling runs as a TWO-STAGE exact
    // division — d²·1e6 div m == (d² div m)·1e6 + (d² mod m)·1e6 div m
    // for non-negative operands — so the widest intermediate is d²
    // (≤ N⁴ < 1e38 for N ≲ 3e9 docs) rather than d²·1e6. Beyond that
    // the BIGINT width of d = obs·N − row·col binds first anyway; a
    // corpus past ~3e9 docs must widen d itself to DECIMAL(38).
    // Zero-observation cells are REAL contributions, so the cell frame
    // is the langs × sources cross of the two marginal aggregates —
    // ≤ |langs|·|sources| rows, broadcast-sized at any corpus scale.
    // Law (spec'd): a uniform synthetic table yields χ² = 0 exactly.
    QueryDef(
      "q368_lang_source_independence",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val obs = docs.groupBy("lang", "source")
          .agg(count(lit(1)).as("obs"))
        val rows = docs.groupBy("lang").agg(count(lit(1)).as("row_n"))
        val cols = docs.groupBy("source").agg(count(lit(1)).as("col_n"))
        val tot = docs.agg(count(lit(1)).as("n"),
          countDistinct("lang").as("nl"),
          countDistinct("source").as("ns"))
        val cells = rows.crossJoin(broadcast(cols)) // ≤ langs × sources
          .join(obs, Seq("lang", "source"), "left")
          .withColumn("obs", coalesce(col("obs"), lit(0L)))
          .crossJoin(broadcast(tot))
          .withColumn("d", expr("obs * n - row_n * col_n"))
          .withColumn("d2", expr("CAST(d AS DECIMAL(38,0)) * d"))
          .withColumn("m", expr("CAST(n AS DECIMAL(38,0)) * row_n * col_n"))
          .withColumn("cell_micro", expr(
            """CAST((d2 div m) * 1000000
               + (d2 % m) * 1000000 div m AS BIGINT)"""))
        val chi = cells.agg(sum("cell_micro").as("chi_micro"))
        cells.groupBy("lang", "row_n", "nl", "ns")
          .agg(sum("cell_micro").as("lang_chi_micro"))
          .crossJoin(broadcast(chi))
          .withColumn("dof", expr("(nl - 1) * (ns - 1)"))
          .select(col("lang"), col("row_n").as("n_docs"),
            col("lang_chi_micro"), col("chi_micro"), col("dof"))
          .orderBy("lang")
      },
      Some("""
        WITH obs AS (
          SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS obs
          FROM documents GROUP BY lang, source),
        r AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS row_n
              FROM documents GROUP BY lang),
        c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS col_n
              FROM documents GROUP BY source),
        tot AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(COUNT(DISTINCT lang) AS BIGINT) AS nl,
                 CAST(COUNT(DISTINCT source) AS BIGINT) AS ns
          FROM documents),
        cells AS (
          SELECT r.lang, r.row_n, c.col_n, tot.n, tot.nl, tot.ns,
                 COALESCE(obs.obs, 0) AS obs,
                 COALESCE(obs.obs, 0) * tot.n - r.row_n * c.col_n AS d
          FROM r CROSS JOIN c CROSS JOIN tot
          LEFT JOIN obs ON obs.lang = r.lang AND obs.source = c.source),
        w AS (
          SELECT lang, row_n, nl, ns,
                 CAST(d AS HUGEINT) * d AS d2,
                 CAST(n AS HUGEINT) * row_n * col_n AS m
          FROM cells),
        cm AS (
          SELECT lang, row_n, nl, ns,
                 CAST((d2 // m) * 1000000
                   + (d2 % m) * 1000000 // m AS BIGINT) AS cell_micro
          FROM w),
        chi AS (SELECT CAST(SUM(cell_micro) AS BIGINT) AS chi_micro
                FROM cm)
        SELECT lang, row_n AS n_docs,
               CAST(SUM(cell_micro) AS BIGINT) AS lang_chi_micro,
               chi_micro, CAST((nl - 1) * (ns - 1) AS BIGINT) AS dof
        FROM cm, chi
        GROUP BY lang, row_n, nl, ns, chi_micro
        ORDER BY lang"""))
  ,

    // --------------------------------------------------------------- q369
    // Source-overlap matrix — pairwise 5-GRAM (shingle) Jaccard between
    // sources: the mixture-DEDUP planning table (how much of source A's
    // shingle mass a near-dup pass against source B would collapse).
    // Deliberately the shingle-grain sibling of q185's unigram
    // vocabulary overlap (the cheap domain-similarity screen): unigram
    // overlap answers "same domain?", shingle overlap answers "same
    // PASSAGES?" — sources can share 90% vocabulary and ~0% shingles.
    // Same scale device as q185: each gram-hash groups into its
    // (bounded, ≤ |sources|) source set ONCE and ordered pairs explode
    // from that row — one distinct + one gram-keyed aggregate, never a
    // gram self-join, and grams travel as md5-prefix BIGINTs, never
    // text. 100 TB shape: two keyed aggregates over gram hashes; the
    // pair explode is ≤ C(|sources|,2) per gram.
    QueryDef(
      "q369_source_overlap_matrix",
      (s, dir) => {
        val gs = Tables(s, dir, "documents")
          .select(col("source"),
            explode(expr("array_distinct(graft_word_ngrams(text, 5))"))
              .as("gram"))
          .select(col("source"), expr(
            "CAST(conv(substr(md5(gram), 1, 15), 16, 10) AS BIGINT)")
            .as("h"))
          .distinct()
        val counts = gs.groupBy("source").agg(count(lit(1)).as("n"))
        val pairs = gs.groupBy("h")
          .agg(sort_array(collect_set(col("source"))).as("srcs")) // ≤ sources
          .select(explode(expr(
            """flatten(transform(srcs, (a, i) ->
                 transform(slice(srcs, i + 2, size(srcs)),
                   b -> struct(a AS s1, b AS s2))))""")).as("p"))
          .groupBy(col("p.s1").as("src_a"), col("p.s2").as("src_b"))
          .agg(count(lit(1)).as("inter"))
        pairs
          .join(broadcast(counts.withColumnRenamed("source", "src_a")
            .withColumnRenamed("n", "n_a")), Seq("src_a"))
          .join(broadcast(counts.withColumnRenamed("source", "src_b")
            .withColumnRenamed("n", "n_b")), Seq("src_b"))
          .withColumn("uni", expr("n_a + n_b - inter"))
          .withColumn("jaccard_ppm", expr("inter * 1000000 div uni"))
          .select("src_a", "src_b", "inter", "uni", "jaccard_ppm")
          .orderBy("src_a", "src_b")
      },
      Some("""
        WITH g0 AS (
          SELECT DISTINCT source,
                 UNNEST(list_transform(range(1, len(ws) - 3),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] ||
                             ' ' || ws[i+3] || ' ' || ws[i+4])) AS gram
          FROM (SELECT source, string_split(text, ' ') AS ws
                FROM documents)),
        gs AS (
          SELECT DISTINCT source,
                 CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT)
                   AS h
          FROM g0),
        counts AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
                   FROM gs GROUP BY source),
        pairs AS (
          SELECT a.source AS src_a, b.source AS src_b,
                 CAST(COUNT(*) AS BIGINT) AS inter
          FROM gs a JOIN gs b ON a.h = b.h AND a.source < b.source
          GROUP BY a.source, b.source)
        SELECT p.src_a, p.src_b, p.inter,
               CAST(ca.n + cb.n - p.inter AS BIGINT) AS uni,
               CAST(p.inter * 1000000 // (ca.n + cb.n - p.inter)
                 AS BIGINT) AS jaccard_ppm
        FROM pairs p
        JOIN counts ca ON ca.source = p.src_a
        JOIN counts cb ON cb.source = p.src_b
        ORDER BY src_a, src_b"""))
  ,

    // --------------------------------------------------------------- q370
    // Per-source token-distribution Shannon entropy (micro-nats) — the
    // diversity number mixture owners read beside q322's Zipf slope:
    // H = Σ (c/T)·ln(T/c) with ln quantized to integer micro-units
    // BEFORE the mass-weighted sum (the q58 idf discipline: a 1-ulp
    // libm difference must land exactly on a .5e-6 rounding boundary
    // to move the output by one). 100 TB shape: one (source, word)
    // keyed aggregate with map-side partials, a 20-row broadcast of
    // per-source totals, one keyed rollup.
    QueryDef(
      "q370_source_token_entropy",
      (s, dir) => {
        val wc = Tables(s, dir, "documents")
          .select(col("source"),
            explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy("source", "w").agg(count(lit(1)).as("c"))
        val totals = wc.groupBy("source").agg(sum("c").as("t"),
          count(lit(1)).as("vocab"))
        wc.join(broadcast(totals), Seq("source")) // ≤ sources rows
          .withColumn("lnm", expr(
            "CAST(round(ln(CAST(t AS DOUBLE) / c) * 1000000) AS BIGINT)"))
          .groupBy("source")
          .agg(max("t").as("tokens"), max("vocab").as("vocab"),
            // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
            sum(expr("CAST(c AS DECIMAL(38,0)) * lnm")).as("mass"))
          .withColumn("entropy_micro_nats",
            expr("CAST(mass div tokens AS BIGINT)"))
          .select("source", "tokens", "vocab", "entropy_micro_nats")
          .orderBy("source")
      },
      Some("""
        WITH toks AS (
          SELECT source, UNNEST(string_split(text, ' ')) AS w
          FROM documents),
        wc AS (
          SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
          FROM toks WHERE length(w) > 0 GROUP BY source, w),
        totals AS (
          SELECT source, CAST(SUM(c) AS BIGINT) AS t,
                 CAST(COUNT(*) AS BIGINT) AS vocab
          FROM wc GROUP BY source),
        lnm AS (
          SELECT wc.source, totals.t, totals.vocab,
                 CAST(wc.c AS HUGEINT) *
                 CAST(round(ln(CAST(totals.t AS DOUBLE) / wc.c) * 1000000)
                   AS BIGINT) AS m
          FROM wc JOIN totals ON wc.source = totals.source)
        SELECT source, CAST(MAX(t) AS BIGINT) AS tokens,
               CAST(MAX(vocab) AS BIGINT) AS vocab,
               CAST(SUM(m) // MAX(t) AS BIGINT) AS entropy_micro_nats
        FROM lnm
        GROUP BY source
        ORDER BY source"""))
  ,

    // --------------------------------------------------------------- q371
    // Incremental novelty tick — q363's first-occurrence question asked
    // the O(delta) way a continuous ingest answers it: only the
    // ARRIVING docs explode into grams; each gram left-joins the
    // STANDING corpus gram index (gram-hash keyed) for a known/new
    // flag. Re-crawl arrivals (same text) must read exactly 0 novel;
    // fresh synthetic docs carry ids no corpus gram contains (both
    // law-spec'd). s70 streams the identical flag frame through a
    // STREAM-STATIC left join inside the tick — oracle VERBATIM.
    QueryDef(
      "q371_incremental_novelty_tick",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select("doc_id", "source", "text")
        noveltyTickReport(
          arrivalGramFlags(s, novelArrivals(docs), docs))
      },
      Some(noveltyTickOracle))
  ,

    // --------------------------------------------------------------- q373
    // Train/eval split leakage audit — exact-dup contamination across a
    // deterministic 5% eval split: planted re-crawl copies (the q25
    // plant at a disjoint id offset) land in whichever split their md5
    // coin says, and any digest present in BOTH splits poisons its
    // eval members; the quarantined eval count is what a release gate
    // reports. Digests are md5 — text never rides the split shuffle.
    // 100 TB shape: one digest-keyed aggregate (has_train/has_eval
    // flags), one broadcast-back of leaked digests, keyed rollups.
    QueryDef(
      "q373_eval_split_leakage",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select("doc_id", "source", "text")
        // plant: every 5th doc re-arrives verbatim at +900000 (fixture
        // doc_id < 900000 at every shipped sf, so ids never collide)
        val planted = docs.unionByName(
          docs.filter(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 900000).as("doc_id"), col("source"),
              col("text")))
        val tagged = planted
          .withColumn("digest", md5(col("text")))
          .withColumn("is_eval", expr(
            """CAST(conv(substr(md5(concat('sp_',
                  CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)
               % 20 = 0"""))
        val leak = tagged.groupBy("digest")
          .agg(max(expr("CASE WHEN is_eval THEN 0 ELSE 1 END"))
            .as("has_train"),
            max(expr("CASE WHEN is_eval THEN 1 ELSE 0 END"))
              .as("has_eval"))
          .filter(col("has_train") === 1 && col("has_eval") === 1)
          .select("digest")
        tagged.join(leak.withColumn("leaked", lit(1L)), Seq("digest"),
            "left")
          .groupBy("source")
          .agg(sum(expr("CASE WHEN is_eval THEN 0 ELSE 1 END"))
            .as("train_docs"),
            sum(expr("CASE WHEN is_eval THEN 1 ELSE 0 END"))
              .as("eval_docs"),
            sum(expr(
              "CASE WHEN is_eval AND leaked IS NOT NULL THEN 1 ELSE 0 END"))
              .as("leaked_eval_docs"))
          .withColumn("eval_clean", expr("eval_docs - leaked_eval_docs"))
          .select("source", "train_docs", "eval_docs",
            "leaked_eval_docs", "eval_clean")
          .orderBy("source")
      },
      Some("""
        WITH planted AS (
          SELECT doc_id, source, text FROM documents
          UNION ALL
          SELECT doc_id + 900000, source, text FROM documents
          WHERE doc_id % 5 = 0),
        tagged AS (
          SELECT source, md5(text) AS digest,
                 CAST(concat('0x', substr(md5('sp_' ||
                   CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 20 = 0
                   AS is_eval
          FROM planted),
        leak AS (
          SELECT digest
          FROM tagged
          GROUP BY digest
          HAVING MAX(CASE WHEN is_eval THEN 0 ELSE 1 END) = 1
             AND MAX(CASE WHEN is_eval THEN 1 ELSE 0 END) = 1)
        SELECT source,
               CAST(SUM(CASE WHEN is_eval THEN 0 ELSE 1 END) AS BIGINT)
                 AS train_docs,
               CAST(SUM(CASE WHEN is_eval THEN 1 ELSE 0 END) AS BIGINT)
                 AS eval_docs,
               CAST(SUM(CASE WHEN is_eval AND digest IN
                 (SELECT digest FROM leak) THEN 1 ELSE 0 END) AS BIGINT)
                 AS leaked_eval_docs,
               CAST(SUM(CASE WHEN is_eval THEN 1 ELSE 0 END)
                 - SUM(CASE WHEN is_eval AND digest IN
                     (SELECT digest FROM leak) THEN 1 ELSE 0 END)
                 AS BIGINT) AS eval_clean
        FROM tagged
        GROUP BY source
        ORDER BY source"""))
  )

  /** q325/s59 shared rollup half: per-source τ=2 sampling report from
    * the per-doc (source, nt, ttr) frame — the same drained input shape
    * as q319/s52's water-fill. See the q325 scaladoc for the IEEE-sqrt
    * exactness argument. */
  private[graft] def temperatureSampling(perDoc: DataFrame): DataFrame = {
    val src = perDoc
      .groupBy("source").agg(sum("nt").as("n"))
      .withColumn("w",
        expr("CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)"))
    val tot = src.agg(sum("n").as("tt"), sum("w").as("tw"))
    src.crossJoin(broadcast(tot))
      .select(col("source"), col("n").as("n_tokens"),
        col("w").as("sqrt_weight"),
        expr("""CAST(CAST(w AS DECIMAL(38,0)) * 1000000
                div nullif(tw, 0) AS BIGINT)""").as("sample_ppm"),
        expr("""CAST(CAST(n AS DECIMAL(38,0)) * 1000000
                div nullif(tt, 0) AS BIGINT)""").as("prop_ppm"),
        expr("""CAST(CAST(tt * 2 div 5 AS DECIMAL(38,0)) * w
                div nullif(tw, 0) AS BIGINT)""").as("alloc_tokens"),
        expr("""CAST(CAST(CAST(tt * 2 div 5 AS DECIMAL(38,0)) * w
                  div nullif(tw, 0) AS DECIMAL(38,0)) * 1000
                div nullif(n, 0) AS BIGINT)""").as("epochs_milli"))
      .orderBy("source")
  }

  /** q325's oracle, shared VERBATIM by s59 (the streamed per-doc stats
    * must produce the batch sampling plan exactly). */
  private[graft] def temperatureOracle: String = """
        WITH d AS (
          SELECT source,
                 CAST(len(list_filter(string_split(text, ' '),
                   w -> w <> '')) AS BIGINT) AS nt
          FROM documents),
        src AS (
          SELECT source, CAST(SUM(nt) AS BIGINT) AS n,
                 CAST(floor(sqrt(CAST(CAST(SUM(nt) AS BIGINT) AS DOUBLE)))
                   AS BIGINT) AS w
          FROM d GROUP BY source),
        tot AS (
          SELECT CAST(SUM(n) AS BIGINT) AS tt, CAST(SUM(w) AS BIGINT) AS tw
          FROM src)
        SELECT s.source, s.n AS n_tokens, s.w AS sqrt_weight,
               CAST(CAST(s.w AS HUGEINT) * 1000000
                 // nullif(t.tw, 0) AS BIGINT) AS sample_ppm,
               CAST(CAST(s.n AS HUGEINT) * 1000000
                 // nullif(t.tt, 0) AS BIGINT) AS prop_ppm,
               CAST(CAST(t.tt * 2 // 5 AS HUGEINT) * s.w
                 // nullif(t.tw, 0) AS BIGINT) AS alloc_tokens,
               CAST(CAST(CAST(t.tt * 2 // 5 AS HUGEINT) * s.w
                   // nullif(t.tw, 0) AS HUGEINT) * 1000
                 // nullif(s.n, 0) AS BIGINT) AS epochs_milli
        FROM src s, tot t
        ORDER BY s.source"""

  /** q329/s58 shared STATELESS half: one row per (doc, objective,
    * block) carrying that block's masked-token and span-start
    * contribution (the S prefix-LM objective contributes one arithmetic
    * row per doc, zero fan-out). No aggregation here — this is what s58
    * can drain in append mode; per-doc totals are a batch-side rollup
    * ([[ul2PerDoc]]). See the q329 scaladoc for the coin algebra. */
  private[graft] def ul2Rows(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("source"),
        expr("CAST(size(filter(split(text, ' '), w -> w <> '')) AS BIGINT)")
          .as("n"))
      .filter(col("n") >= 1)
    def spanObj(name: String, len: Int, pct: Int): DataFrame =
      base
        .withColumn("nb", expr(s"(n + ${len - 1}) div $len"))
        .select(col("doc_id"), col("source"), col("n"),
          explode(expr("sequence(0L, nb - 1)")).as("b"))
        .withColumn("coin", expr(
          s"""CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), '_',
                CAST(b AS STRING), '_', '$name')), 1, 15), 16, 10)
                AS BIGINT) % 100"""))
        .withColumn("pcoin", expr(
          s"""CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), '_',
                CAST(b - 1 AS STRING), '_', '$name')), 1, 15), 16, 10)
                AS BIGINT) % 100"""))
        .select(col("doc_id"), col("source"), lit(name).as("objective"),
          col("n"),
          expr(s"""CASE WHEN coin < $pct
                   THEN least(CAST($len AS BIGINT), n - b * $len)
                   ELSE 0L END""").as("masked"),
          (col("coin") < pct && (col("b") === 0 || col("pcoin") >= pct))
            .cast("long").as("start"))
    val sPre = base.select(col("doc_id"), col("source"),
      lit("S").as("objective"), col("n"),
      (col("n") - expr("(n + 1) div 2")).as("masked"), lit(1L).as("start"))
    spanObj("R", 3, 15).unionByName(spanObj("X", 12, 50)).unionByName(sPre)
  }

  /** q329/s58 shared per-doc rollup over [[ul2Rows]]. */
  private[graft] def ul2PerDoc(rows: DataFrame): DataFrame =
    rows.groupBy("doc_id", "source", "objective")
      .agg(max("n").as("n"), sum("masked").as("masked"),
        sum("start").as("sentinels"))
      .select("source", "objective", "n", "masked", "sentinels")

  /** q329/s58 shared rollup half: per (source, objective) pricing. */
  private[graft] def ul2Report(perDoc: DataFrame): DataFrame =
    perDoc.groupBy("source", "objective")
      .agg(count(lit(1)).as("n_docs"),
        sum("n").as("n_tokens"),
        sum("masked").as("masked_tokens"),
        sum("sentinels").as("n_sentinels"),
        (sum("n") - sum("masked") + sum("sentinels")).as("input_tokens"),
        (sum("masked") + sum("sentinels")).as("target_tokens"),
        // DECIMAL(38) ↔ HUGEINT at corpus scale (the q319 class)
        expr("""CAST(CAST(sum(masked) AS DECIMAL(38,0)) * 1000000
                div nullif(sum(n), 0) AS BIGINT)""").as("masked_ppm"))
      .orderBy("source", "objective")

  /** q329's oracle, shared VERBATIM by s58. */
  private[graft] def ul2Oracle: String = """
        WITH base AS (
          SELECT doc_id, source,
                 CAST(len(list_filter(string_split(text, ' '),
                   w -> w <> '')) AS BIGINT) AS n
          FROM documents
          WHERE len(list_filter(string_split(text, ' '), w -> w <> '')) >= 1),
        blocks AS (
          SELECT doc_id, source, n, 'R' AS objective, 3 AS L, 15 AS pct,
                 unnest(range(0, (n + 2) // 3)) AS b
          FROM base
          UNION ALL
          SELECT doc_id, source, n, 'X', 12, 50,
                 unnest(range(0, (n + 11) // 12)) AS b
          FROM base),
        coins AS (
          SELECT doc_id, source, n, objective, L, pct, b,
                 CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
                   '_', CAST(b AS VARCHAR), '_', objective)), 1, 15))
                   AS BIGINT) % 100 AS coin,
                 CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
                   '_', CAST(b - 1 AS VARCHAR), '_', objective)), 1, 15))
                   AS BIGINT) % 100 AS pcoin
          FROM blocks),
        per_doc AS (
          SELECT source, objective, doc_id, n,
                 CAST(SUM(CASE WHEN coin < pct
                   THEN least(CAST(L AS BIGINT), n - b * L) ELSE 0 END)
                   AS BIGINT) AS masked,
                 CAST(SUM(CASE WHEN coin < pct AND (b = 0 OR pcoin >= pct)
                   THEN 1 ELSE 0 END) AS BIGINT) AS sentinels
          FROM coins GROUP BY source, objective, doc_id, n
          UNION ALL
          SELECT source, 'S', doc_id, n,
                 n - (n + 1) // 2, CAST(1 AS BIGINT)
          FROM base)
        SELECT source, objective, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n) AS BIGINT) AS n_tokens,
               CAST(SUM(masked) AS BIGINT) AS masked_tokens,
               CAST(SUM(sentinels) AS BIGINT) AS n_sentinels,
               CAST(SUM(n) - SUM(masked) + SUM(sentinels) AS BIGINT)
                 AS input_tokens,
               CAST(SUM(masked) + SUM(sentinels) AS BIGINT) AS target_tokens,
               CAST(CAST(SUM(masked) AS HUGEINT) * 1000000
                 // nullif(CAST(SUM(n) AS HUGEINT), 0) AS BIGINT)
                 AS masked_ppm
        FROM per_doc
        GROUP BY source, objective
        ORDER BY source, objective"""

  /** q313/s50 shared: the stateless per-row half of the prefix-cache
    * model — template + document tokens, fanned out over the four k
    * levels, reduced to (source, k, nt, prefix). Shared CODE so the
    * streamed twin can never drift from the batch prefixing. */
  private[graft] def prefixRequests(docs: DataFrame): DataFrame = {
    val hdr = "array('you','are','a','helpful','data'," +
      "'curation','assistant','.')"
    docs
      .select(col("source"),
        expr(s"""concat($hdr,
                   filter(split(text, ' '), w -> w <> ''))""").as("toks"))
      .select(col("source"), col("toks"),
        explode(expr("array(4, 8, 12, 16)")).as("k"))
      .filter(size(col("toks")) >= col("k"))
      .select(col("source"), col("k"), size(col("toks")).as("nt"),
        expr("array_join(slice(toks, 1, k), ' ')").as("prefix"))
  }

  /** q313/s50 shared: the two keyed rollups over the request frame. */
  private[graft] def prefixCacheReport(reqs: DataFrame): DataFrame =
    reqs.groupBy("source", "k", "prefix")
      .agg(count(lit(1)).as("m"), sum("nt").as("toks_grp"))
      .groupBy("source", "k")
      .agg(count(lit(1)).as("n_prefixes"),
        sum("m").as("n_requests"),
        sum("toks_grp").as("total_toks"),
        sum(expr("(m - 1) * k")).as("saved_toks"))
      .select(col("source"), col("k").cast("long").as("k"),
        col("n_requests"), col("n_prefixes"), col("saved_toks"),
        expr("saved_toks * 1000000 div (n_requests * k)")
          .as("prefix_hit_ppm"),
        expr("saved_toks * 1000000 div total_toks")
          .as("total_savings_ppm"))
      .orderBy("source", "k")

  /** q313's oracle, shared VERBATIM by s50 (the streamed cache model
    * must converge to the batch savings report exactly). */
  private[graft] def prefixCacheOracle: String = """
        WITH reqs AS (
          SELECT source, k,
                 CAST(len(toks) AS BIGINT) AS nt,
                 array_to_string(toks[1:CAST(k AS INT)], ' ') AS prefix
          FROM (SELECT source,
                       list_concat(['you','are','a','helpful','data',
                                    'curation','assistant','.'],
                         list_filter(string_split(text, ' '),
                           w -> w <> '')) AS toks,
                       unnest([CAST(4 AS BIGINT), 8, 12, 16]) AS k
                FROM documents)
          WHERE len(toks) >= k),
        grp AS (
          SELECT source, k, prefix, CAST(COUNT(*) AS BIGINT) AS m,
                 CAST(SUM(nt) AS BIGINT) AS toks_grp
          FROM reqs GROUP BY source, k, prefix),
        agg AS (
          SELECT source, k,
                 CAST(COUNT(*) AS BIGINT) AS n_prefixes,
                 CAST(SUM(m) AS BIGINT) AS n_requests,
                 CAST(SUM(toks_grp) AS BIGINT) AS total_toks,
                 CAST(SUM((m - 1) * k) AS BIGINT) AS saved_toks
          FROM grp GROUP BY source, k)
        SELECT source, k, n_requests, n_prefixes, saved_toks,
               CAST(saved_toks * 1000000 // (n_requests * k) AS BIGINT)
                 AS prefix_hit_ppm,
               CAST(saved_toks * 1000000 // total_toks AS BIGINT)
                 AS total_savings_ppm
        FROM agg
        ORDER BY source, k"""

  /** q298/s48 shared: the stateless per-row half of the unigram
    * accounting — (source, tok) with empty tokens dropped. Shared CODE
    * so the streamed twin can never drift from the batch tokenizer. */
  private[graft] def sourceTokens(docs: DataFrame): DataFrame =
    docs.select(col("source"),
      explode(expr("filter(split(text, ' '), w -> w <> '')")).as("tok"))

  /** q298/s48 shared: the aggregation half of [[sourceUnigramStats]],
    * from an already-tokenized (source, tok) frame. */
  private[graft] def unigramStatsFromTokens(toks: DataFrame): DataFrame = {
    val sc = toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val cc = sc.groupBy("tok").agg(sum("c").as("cc"))
    val lc = cc.agg(sum("cc").as("t"))
      .select(expr("length(bin(t)) - 1").as("lc"))
    sc.join(cc, "tok")
      .crossJoin(broadcast(lc))
      .withColumn("stot",
        sum("c").over(Window.partitionBy("source")))
      .groupBy("source")
      .agg(sum("c").as("n_toks"),
        sum(expr("c * (lc - (length(bin(cc)) - 1))")).as("ce_bits"),
        sum(expr("c * ((length(bin(stot)) - 1) - (length(bin(c)) - 1))"))
          .as("self_bits"))
      .select(col("source"), col("n_toks"),
        expr("ce_bits * 1000 div n_toks").as("ce_mb"),
        expr("self_bits * 1000 div n_toks").as("self_mb"),
        expr("""ce_bits * 1000 div n_toks
                - self_bits * 1000 div n_toks""").as("excess_mb"))
  }

  /** q298/s48 shared: the linearized exponentiated-gradient weight
    * rollup over the bounded per-source unigram frame. */
  /** Per-doc (source, token count, TTR ppm) projection — the stateless
    * half shared VERBATIM by q319 (batch) and s52 (streamed). */
  private[graft] def budgetPerDoc(docs: DataFrame): DataFrame =
    docs.select(col("source"),
      expr("size(filter(split(text, ' '), w -> w <> ''))")
        .cast("long").as("nt"),
      expr("""size(array_distinct(filter(split(text, ' '),
                w -> w <> ''))) * 1000000
              div size(filter(split(text, ' '), w -> w <> ''))""")
        .as("ttr_ppm"))

  /** Exact integer water-fill over the per-source (avail, weight) frame —
    * the rollup half shared by q319 and s52. See the q319 scaladoc for
    * the algebra; every window here touches ≤ sources rows by
    * construction. */
  private[graft] def budgetWaterfill(perDoc: DataFrame): DataFrame = {
    val wAll = Window.partitionBy() // ≤ sources rows by construction
    val wOrd = Window.orderBy(col("rk"), col("source"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val src = perDoc.groupBy("source")
      .agg(sum("nt").as("a"),
        expr("greatest(sum(ttr_ppm) div count(1), 1L)").as("w"))
      .withColumn("rk",
        expr("CAST(CAST(a AS DECIMAL(38,0)) * 1000000 div w AS BIGINT)"))
    val pre = src
      .withColumn("rn", row_number().over(wOrd).cast("long"))
      .withColumn("pa", sum("a").over(wCum))
      .withColumn("pw", sum("w").over(wCum))
      .withColumn("ta", sum("a").over(wAll))
      .withColumn("tw", sum("w").over(wAll))
      .withColumn("bb", expr("ta * 2 div 5"))
      // exclusive prefixes: the capped set at cut rn is ranks < rn
      .withColumn("p0", col("pa") - col("a"))
      .withColumn("w0", col("tw") - (col("pw") - col("w")))
      // eager checkpoint: both the cut search and the allocation read
      // this ≤ sources-row frame — without the cut, each re-derives the
      // corpus aggregate and the operator pays TWO corpus passes
      // (plan-audited r10)
      .localCheckpoint(true)
    // the cut: smallest rank whose cap covers its fair share at the
    // waterline implied by capping everyone before it (cross-multiplied,
    // widened — never a division)
    val cut = pre.filter(
        expr("""CAST(a AS DECIMAL(38,0)) * w0
                >= CAST(bb - p0 AS DECIMAL(38,0)) * w
                AND bb - p0 >= 0"""))
      .agg(min(struct(col("rn"), (col("bb") - col("p0")).as("nb"),
        col("w0").as("dw"))).as("pick"))
      .select(col("pick.rn").as("cut"), col("pick.nb").as("nb"),
        col("pick.dw").as("dw"))
    pre.crossJoin(broadcast(cut))
      .withColumn("capped", col("cut").isNull || col("rn") < col("cut"))
      .withColumn("alloc", when(col("capped"), col("a"))
        .otherwise(expr(
          """least(a, CAST(CAST(nb AS DECIMAL(38,0)) * w div dw
               AS BIGINT))""")))
      .select(col("source"), col("a").as("avail_tokens"),
        col("w").as("weight_ppm"), col("alloc").as("allocated_tokens"),
        col("capped"),
        // widened like rk (ADVICE r10): at ~1e13 corpus tokens the bare
        // int64 product wraps silently while DuckDB's HUGEINT stays
        // exact; nullif guards the near-empty-corpus bb=0 division
        expr("""CAST(CAST(alloc AS DECIMAL(38,0)) * 1000000
                div nullif(bb, 0) AS BIGINT)""").as("budget_share_ppm"))
      .orderBy("source")
  }

  /** q319's oracle, shared VERBATIM by s52 (the streamed per-doc stats
    * must water-fill to the batch allocation exactly). */
  private[graft] def budgetWaterfillOracle: String = """
        WITH d AS (
          SELECT source,
                 CAST(len(list_filter(string_split(text, ' '),
                   w -> w <> '')) AS BIGINT) AS nt,
                 len(list_distinct(list_filter(string_split(text, ' '),
                   w -> w <> ''))) * 1000000
                   // len(list_filter(string_split(text, ' '),
                        w -> w <> '')) AS ttr_ppm
          FROM documents),
        src AS (
          SELECT source, CAST(SUM(nt) AS BIGINT) AS a,
                 greatest(CAST(SUM(ttr_ppm) AS BIGINT) // COUNT(*), 1) AS w
          FROM d GROUP BY source),
        rkd AS (
          SELECT source, a, w,
                 CAST(CAST(a AS HUGEINT) * 1000000 // w AS BIGINT) AS rk
          FROM src),
        pre AS (
          SELECT source, a, w, rk,
                 CAST(row_number() OVER
                   (ORDER BY rk, source) AS BIGINT) AS rn,
                 CAST(SUM(a) OVER (ORDER BY rk, source
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pa,
                 CAST(SUM(w) OVER (ORDER BY rk, source
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pw,
                 CAST(SUM(a) OVER () AS BIGINT) AS ta,
                 CAST(SUM(w) OVER () AS BIGINT) AS tw
          FROM rkd),
        pre2 AS (
          SELECT source, a, w, rn,
                 pa - a AS p0, tw - (pw - w) AS w0,
                 ta * 2 // 5 AS bb
          FROM pre),
        cutq AS (
          SELECT rn AS cut, bb - p0 AS nb, w0 AS dw
          FROM pre2
          WHERE CAST(a AS HUGEINT) * w0 >= CAST(bb - p0 AS HUGEINT) * w
            AND bb - p0 >= 0
          ORDER BY rn LIMIT 1),
        alloc AS (
          SELECT p.source, p.a, p.w, p.bb,
                 ((SELECT cut FROM cutq) IS NULL
                   OR p.rn < (SELECT cut FROM cutq)) AS capped,
                 CASE WHEN (SELECT cut FROM cutq) IS NULL
                        OR p.rn < (SELECT cut FROM cutq) THEN p.a
                      ELSE least(p.a,
                        CAST(CAST((SELECT nb FROM cutq) AS HUGEINT) * p.w
                          // (SELECT dw FROM cutq) AS BIGINT)) END AS alloc
          FROM pre2 p)
        SELECT source, a AS avail_tokens, w AS weight_ppm,
               alloc AS allocated_tokens, capped,
               CAST(CAST(alloc AS HUGEINT) * 1000000
                 // nullif(bb, 0) AS BIGINT) AS budget_share_ppm
        FROM alloc
        ORDER BY source"""

  private[graft] def domainWeightReport(uni: DataFrame): DataFrame = {
    val wAll = Window.partitionBy() // ≤ sources rows by construction
    uni
      .withColumn("w_raw",
        expr("greatest(1000000L + 100L * excess_mb, 1L)"))
      .withColumn("w_tot", sum("w_raw").over(wAll))
      .select(col("source"), col("n_toks"), col("ce_mb"),
        col("self_mb"), col("excess_mb"),
        expr("w_raw * 1000000 div w_tot").as("weight_ppm"))
      .orderBy("source")
  }

  /** q298's oracle, shared VERBATIM by s48 (the streamed mixture
    * weights must converge to the batch report exactly). */
  private[graft] def domainWeightOracle: String = s"""
        $sourceUnigramStatsOracle,
        w AS (
          SELECT source, n_toks, ce_mb, self_mb, excess_mb,
                 greatest(1000000 + 100 * excess_mb, 1) AS w_raw
          FROM uni)
        SELECT source, n_toks, ce_mb, self_mb, excess_mb,
               CAST(w_raw * 1000000 // SUM(w_raw) OVER () AS BIGINT)
                 AS weight_ppm
        FROM w
        ORDER BY source"""

  /** q298's frame: per-source unigram information accounting —
    * (source, n_toks, ce_mb, self_mb, excess_mb) where ce_mb is the
    * mean per-token cross-entropy in millibits under the CORPUS
    * unigram model, self_mb the same under the source's OWN unigram
    * model, and excess_mb their (post-truncation) difference — the
    * exact floor-log2 KL(source ‖ corpus) proxy. One source×vocab
    * keyed aggregate, one vocab-keyed join, a source-keyed window over
    * the vocab-sized frame: nothing corpus-wide ever sorts. */
  private[graft] def sourceUnigramStats(docs: DataFrame): DataFrame =
    unigramStatsFromTokens(sourceTokens(docs))

  /** q298's oracle CTE block ending in `uni(source, n_toks,
    * ce_mb, self_mb, excess_mb)` — the DuckDB twin of
    * [[sourceUnigramStats]], truncation order identical. */
  private[graft] def sourceUnigramStatsOracle: String = """
        WITH st AS (
          SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
          FROM (SELECT source,
                       unnest(list_filter(string_split(text, ' '),
                         w -> w <> '')) AS tok
                FROM documents)
          GROUP BY source, tok),
        cc AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS cc
               FROM st GROUP BY tok),
        lctab AS (
          SELECT CAST(length(bin(CAST(SUM(cc) AS BIGINT))) - 1 AS BIGINT)
            AS lc FROM cc),
        pers AS (
          SELECT s.source, s.c, cc.cc,
                 CAST(SUM(s.c) OVER (PARTITION BY s.source) AS BIGINT)
                   AS stot
          FROM st s JOIN cc USING (tok)),
        agg AS (
          SELECT source,
                 CAST(SUM(c) AS BIGINT) AS n_toks,
                 CAST(SUM(c * ((SELECT lc FROM lctab)
                               - (length(bin(cc)) - 1))) AS BIGINT)
                   AS ce_bits,
                 CAST(SUM(c * ((length(bin(stot)) - 1)
                               - (length(bin(c)) - 1))) AS BIGINT)
                   AS self_bits
          FROM pers GROUP BY source),
        uni AS (
          SELECT source, n_toks,
                 ce_bits * 1000 // n_toks AS ce_mb,
                 self_bits * 1000 // n_toks AS self_mb,
                 ce_bits * 1000 // n_toks - self_bits * 1000 // n_toks
                   AS excess_mb
          FROM agg)"""

  /** q266/q273 shared: extreme-paired docs per source by type-token
    * ratio — the k-th best (chosen_id, chosen_ppm) against the k-th
    * worst (rejected_id, rejected_ppm) — by one keyed row_number and an
    * equi-join on (source, k); callers drop the zero-margin pairs. */
  private def preferencePairs(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val ranked = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        expr("""size(array_distinct(split(text, ' '))) * 1000000
                div size(split(text, ' '))""").as("ttr_ppm"))
      .withColumn("r", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("ttr_ppm").desc, col("doc_id"))).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
    ranked.filter(col("r") * 2 <= col("n"))
      .select(col("source"), col("r").as("k"),
        col("doc_id").as("chosen_id"), col("ttr_ppm").as("chosen_ppm"))
      .join(ranked.select(col("source"),
        (col("n") - col("r") + 1L).as("k"),
        col("doc_id").as("rejected_id"),
        col("ttr_ppm").as("rejected_ppm")), Seq("source", "k"))
  }

  /** q277/s44 shared: the derived benchmark's distinct 5-gram set —
    * words 6..20 of each benchmark doc in `bench`. */
  private[graft] def severityBenchGrams(bench: DataFrame): DataFrame =
    bench.select(concat_ws(" ",
        slice(split(col("text"), " "), 6, 20)).as("text"))
      .select(explode(
        call_function("graft_word_ngrams", col("text"), lit(5)))
        .as("g"))
      .distinct()

  /** q277/s44 shared: count the benchmark-gram `hits` (one doc_id row
    * per hit) per doc of `docs`, tier every doc (zero-hit docs too) and
    * roll up per (source, tier). */
  private[graft] def severityReport(docs: DataFrame,
      hits: DataFrame): DataFrame =
    docs.select("doc_id", "source")
      .join(hits.groupBy("doc_id").agg(count(lit(1)).as("n_hit")),
        Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("tier",
        when(col("n_hit") === 0L, "t0_none")
          .when(col("n_hit") <= 2L, "t1_low")
          .when(col("n_hit") <= 9L, "t2_med")
          .otherwise("t3_high"))
      .groupBy("source", "tier")
      .agg(count(lit(1)).as("n_docs"), sum("n_hit").as("hits_total"))
      .orderBy("source", "tier")

  /** q277's severity-tier oracle, shared VERBATIM by s44 (the streamed
    * per-doc hit counts must tier and roll up to the batch report). */
  private[graft] def contaminationSeverityOracle: String = """
        WITH bench AS (
          SELECT array_to_string(string_split(text, ' ')[6:25], ' ') AS text
          FROM documents WHERE doc_id % 13 = 0),
        bg AS MATERIALIZED (
          SELECT DISTINCT UNNEST(list_transform(range(1, len(ws) - 3),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                        ws[i+3] || ' ' || ws[i+4])) AS g
          FROM (SELECT string_split(text, ' ') AS ws FROM bench)),
        dg AS (
          SELECT DISTINCT doc_id, g
          FROM (SELECT doc_id,
                       UNNEST(list_transform(range(1, len(ws) - 3),
                         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                              ws[i+3] || ' ' || ws[i+4])) AS g
                FROM (SELECT doc_id, string_split(text, ' ') AS ws
                      FROM documents) t) t2),
        hits AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
          FROM dg WHERE g IN (SELECT g FROM bg)
          GROUP BY doc_id),
        tiered AS (
          SELECT d.source, COALESCE(h.n_hit, 0) AS n_hit,
                 CASE WHEN COALESCE(h.n_hit, 0) = 0 THEN 't0_none'
                      WHEN COALESCE(h.n_hit, 0) <= 2 THEN 't1_low'
                      WHEN COALESCE(h.n_hit, 0) <= 9 THEN 't2_med'
                      ELSE 't3_high' END AS tier
          FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id)
        SELECT source, tier, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_hit) AS BIGINT) AS hits_total
        FROM tiered
        GROUP BY source, tier
        ORDER BY source, tier"""

  /** q272/q276 shared: the bucketed first-fit packing report over a
    * (doc_id, source, nt) token-measured frame — q272 measures in
    * whitespace words, q276 in q254's learned BPE tokens; the packing
    * algebra (truncate to L, power-of-two bucket, keyed row_number,
    * per-source waste rollup) is identical. */
  private[graft] def packReport(measured: DataFrame): DataFrame = {
    val d = packBuckets(measured, "nt")
    val seqs = d
      .withColumn("cap", expr(s"$PackLen div bucket"))
      .withColumn("rn", row_number().over(
          Window.partitionBy("source", "bucket").orderBy("doc_id"))
        .cast("long"))
      .withColumn("seq", expr("(rn - 1) div cap"))
    val perSrcDocs = d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("nt").as("tokens_total"),
        sum("kept").as("tokens_kept"),
        sum("ntr").as("tokens_trunc"))
    val perSrcSeqs = seqs.groupBy("source", "bucket", "seq")
      .agg(count(lit(1)).as("nd"))
      .groupBy("source").agg(count(lit(1)).as("n_seqs"))
    packCosts(perSrcDocs.join(perSrcSeqs, "source"))
  }

  /** q272/q276/s42 shared: the packed sequence length L. */
  private[graft] val PackLen = 512L

  /** q272/q276/s42 shared: each doc with tokens in column `n`, truncated
    * to [[PackLen]] (kept, ntr) and assigned its power-of-two bucket. */
  private[graft] def packBuckets(measured: DataFrame, n: String): DataFrame =
    measured.filter(col(n) > 0L)
      .withColumn("kept", least(col(n), lit(PackLen)))
      .withColumn("ntr", col(n) - col("kept"))
      .withColumn("bucket", expr(
        "CASE WHEN kept = 1 THEN 1L " +
          "ELSE shiftleft(1L, length(bin(kept - 1))) END"))

  /** q272/q276/s42 shared: the per-source waste report from (source,
    * n_docs, n_seqs, tokens_total, tokens_kept, tokens_trunc). */
  private[graft] def packCosts(perSrc: DataFrame): DataFrame =
    perSrc
      .select(col("source"), col("n_docs"), col("n_seqs"),
        col("tokens_total"), col("tokens_kept"), col("tokens_trunc"),
        (col("n_seqs") * PackLen - col("tokens_kept")).as("tokens_pad"),
        expr(s"tokens_kept * 1000000 div (n_seqs * $PackLen)").as("util_ppm"),
        expr("tokens_trunc * 1000000 div tokens_total").as("trunc_ppm"))
      .orderBy("source")

  /** q272's per-source packing-cost report oracle, shared VERBATIM by
    * the streaming twin (s42): the bucketed first-fit report is
    * arrival-order independent — every sequence but the ragged last is
    * full, so n_seqs = ceil(n_bucket / cap) and all token sums are
    * order-free — which is exactly what lets a stream compute it. */
  private[graft] def packAccountingOracle: String = """
        WITH d AS MATERIALIZED (
          SELECT doc_id, source,
                 CAST(len(list_filter(string_split(text, ' '),
                   w -> w <> '')) AS BIGINT) AS nw
          FROM documents),
        t AS (
          SELECT doc_id, source, nw,
                 LEAST(nw, 512) AS kept, nw - LEAST(nw, 512) AS ntr
          FROM d WHERE nw > 0),
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
                 CAST(SUM(nw) AS BIGINT) AS tokens_total,
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
        ORDER BY source"""

  /** q331/s60 shared per-token half — stateless projection + 2-way
    * explode, no shuffle, no state: each non-empty token draws two
    * DISTINCT experts from the md5-coin (e1 = h % 8; e2 skips e1 by
    * construction) and emits one row per dispatch. 15 hex digits = 60
    * bits, so the conv() result is always a non-negative BIGINT in both
    * engines. */
  private[graft] def moeDispatch(docs: DataFrame): DataFrame =
    docs
      .withColumn("wl", expr("filter(split(text, ' '), w -> w <> '')"))
      .filter(size(col("wl")) >= 1)
      .select(col("doc_id"), col("source"),
        expr("doc_id div 16").as("batch"),
        posexplode(col("wl")).as(Seq("pos", "tok")))
      .withColumn("k", expr(
        """md5(concat(tok, '_', CAST(doc_id AS STRING), '_',
                      CAST(pos + 1 AS STRING)))"""))
      .withColumn("e1", expr(
        "CAST(conv(substr(k, 1, 15), 16, 10) AS BIGINT) % 8"))
      .withColumn("e2", expr(
        """(e1 + 1 + CAST(conv(substr(k, 16, 15), 16, 10) AS BIGINT) % 7)
           % 8"""))
      .select(col("source"), col("batch"),
        explode(array(col("e1"), col("e2"))).as("expert"))

  /** q331/s60 shared rollup half: (source, batch, expert) cells → batch
    * capacities → per-(source, expert) routing report. Every window
    * rides a ≤ 8-row partition (experts within one batch / one source's
    * expert rows); cap = 1.25 × fair share = tokens·2·125 / (8·100),
    * +1 so a non-empty batch always admits at least one dispatch. */
  private[graft] def moeReport(disp: DataFrame): DataFrame = {
    val wBatch = Window.partitionBy("source", "batch")
    val wSrc = Window.partitionBy("source")
    disp.groupBy("source", "batch", "expert")
      .agg(count(lit(1)).as("c"))
      .withColumn("bt", sum("c").over(wBatch))
      .withColumn("dropped",
        greatest(lit(0L), col("c") - expr("(bt div 2) * 250 div 800 + 1")))
      .groupBy("source", "expert")
      .agg(sum("c").as("n_dispatch"), sum("dropped").as("n_dropped"))
      .withColumn("st", sum("n_dispatch").over(wSrc))
      // DECIMAL(38) ↔ HUGEINT: corpus-scale dispatch counts × 1e6 wrap
      // int64 (the q319 ADVICE class)
      .withColumn("load_ppm", expr(
        """CAST(CAST(n_dispatch AS DECIMAL(38,0)) * 1000000 div st
           AS BIGINT)"""))
      .withColumn("drop_ppm", expr(
        """CAST(CAST(n_dropped AS DECIMAL(38,0)) * 1000000
           div nullif(n_dispatch, 0) AS BIGINT)"""))
      .withColumn("balance_ppm2", sum(expr("load_ppm * load_ppm")).over(wSrc))
      .select("source", "expert", "n_dispatch", "n_dropped", "drop_ppm",
        "load_ppm", "balance_ppm2")
      .orderBy("source", "expert")
  }

  /** q331's oracle, shared VERBATIM by s60. */
  private[graft] def moeOracle: String = """
        WITH wl AS (
          SELECT doc_id, source,
                 list_filter(string_split(text, ' '), w -> w <> '') AS w
          FROM documents),
        toks AS (
          SELECT doc_id, source, doc_id // 16 AS batch, t.i AS i,
                 w[t.i] AS tok
          FROM wl, UNNEST(range(1, len(w) + 1)) AS t(i)
          WHERE len(w) >= 1),
        gates AS (
          SELECT source, batch,
                 CAST(concat('0x', substr(md5(tok || '_' || doc_id ||
                   '_' || i), 1, 15)) AS BIGINT) % 8 AS e1,
                 CAST(concat('0x', substr(md5(tok || '_' || doc_id ||
                   '_' || i), 16, 15)) AS BIGINT) % 7 AS h2
          FROM toks),
        disp AS (
          SELECT source, batch, unnest([e1, (e1 + 1 + h2) % 8]) AS expert
          FROM gates),
        per_be AS (
          SELECT source, batch, expert, CAST(COUNT(*) AS BIGINT) AS c
          FROM disp GROUP BY source, batch, expert),
        capped AS (
          SELECT source, batch, expert, c,
                 SUM(c) OVER (PARTITION BY source, batch) AS bt
          FROM per_be),
        be2 AS (
          SELECT source, expert, c,
                 greatest(CAST(0 AS BIGINT),
                   c - ((bt // 2) * 250 // 800 + 1)) AS dropped
          FROM capped),
        per_se AS (
          SELECT source, expert, CAST(SUM(c) AS BIGINT) AS n_dispatch,
                 CAST(SUM(dropped) AS BIGINT) AS n_dropped
          FROM be2 GROUP BY source, expert),
        fin AS (
          SELECT source, expert, n_dispatch, n_dropped,
                 CAST(CAST(n_dispatch AS HUGEINT) * 1000000 //
                   SUM(CAST(n_dispatch AS HUGEINT))
                     OVER (PARTITION BY source) AS BIGINT) AS load_ppm,
                 CAST(CAST(n_dropped AS HUGEINT) * 1000000 //
                   nullif(CAST(n_dispatch AS HUGEINT), 0) AS BIGINT)
                   AS drop_ppm
          FROM per_se)
        SELECT source, expert, n_dispatch, n_dropped, drop_ppm, load_ppm,
               CAST(SUM(load_ppm * load_ppm) OVER (PARTITION BY source)
                 AS BIGINT) AS balance_ppm2
        FROM fin
        ORDER BY source, expert"""

  /** q334/s61 shared per-doc half — stateless projection: token count
    * capped at the 512 sequence length (the q276 truncation
    * convention) plus the doc's packing shard. */
  private[graft] def packPerDoc(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        expr("doc_id div 64").as("shard"),
        expr("""least(CAST(size(filter(split(text, ' '), w -> w <> ''))
                AS BIGINT), CAST(512 AS BIGINT))""").as("l"))
      .filter(col("l") >= 1)

  /** q334/s61 shared packing/rollup half: running token offsets within
    * the (source, shard) stream (≤ 64-row ordered window), fragment
    * explode over straddled sequences, triangle-number pair accounting
    * per sequence, per-source report. */
  private[graft] def packMaskReport(perDoc: DataFrame): DataFrame = {
    val wShard = Window.partitionBy("source", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = perDoc
      .withColumn("cum", sum("l").over(wShard))
      .withColumn("start", col("cum") - col("l"))
      .withColumn("s0", expr("start div 512"))
      .withColumn("s1", expr("(cum - 1) div 512"))
    val docStats = base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("s1") > col("s0")).cast("long")).as("docs_split"))
    val seqs = base
      .withColumn("seq", explode(expr("sequence(s0, s1)")))
      .withColumn("f", expr(
        "least((seq + 1) * 512, cum) - greatest(seq * 512, start)"))
      .groupBy("source", "shard", "seq")
      .agg(sum("f").as("L"), sum(expr("f * (f + 1) div 2")).as("masked"))
    val rep = seqs.groupBy("source")
      .agg(count(lit(1)).as("n_seqs"),
        sum(expr("L * (L + 1) div 2")).as("full_pairs"),
        sum("masked").as("masked_pairs"))
    docStats.join(rep, "source")
      .select(col("source"), col("n_docs"), col("docs_split"),
        col("n_seqs"), col("full_pairs"), col("masked_pairs"),
        (col("full_pairs") - col("masked_pairs")).as("saved_pairs"),
        // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
        expr("""CAST(CAST(full_pairs - masked_pairs AS DECIMAL(38,0))
                * 1000000 div nullif(full_pairs, 0) AS BIGINT)""")
          .as("saved_ppm"))
      .orderBy("source")
  }

  /** q334's oracle, shared VERBATIM by s61. */
  private[graft] def packMaskOracle: String = """
        WITH d AS (
          SELECT doc_id, source, doc_id // 64 AS shard,
                 least(CAST(len(list_filter(string_split(text, ' '),
                   w -> w <> '')) AS BIGINT), 512) AS l
          FROM documents
          WHERE len(list_filter(string_split(text, ' '), w -> w <> ''))
            >= 1),
        c AS (
          SELECT doc_id, source, shard, l,
                 CAST(SUM(l) OVER (PARTITION BY source, shard
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS BIGINT) AS cum
          FROM d),
        b AS (
          SELECT source, shard, doc_id, l, cum, cum - l AS start,
                 (cum - l) // 512 AS s0, (cum - 1) // 512 AS s1
          FROM c),
        ds AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(count_if(s1 > s0) AS BIGINT) AS docs_split
          FROM b GROUP BY source),
        frags AS (
          SELECT source, shard, t.s AS seq,
                 least((t.s + 1) * 512, cum) - greatest(t.s * 512, start)
                   AS f
          FROM b, UNNEST(range(s0, s1 + 1)) AS t(s)),
        seqs AS (
          SELECT source, shard, seq, CAST(SUM(f) AS BIGINT) AS L,
                 CAST(SUM(f * (f + 1) // 2) AS BIGINT) AS masked
          FROM frags GROUP BY source, shard, seq),
        rep AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_seqs,
                 CAST(SUM(L * (L + 1) // 2) AS BIGINT) AS full_pairs,
                 CAST(SUM(masked) AS BIGINT) AS masked_pairs
          FROM seqs GROUP BY source)
        SELECT r.source, n_docs, docs_split, n_seqs, full_pairs,
               masked_pairs,
               full_pairs - masked_pairs AS saved_pairs,
               CAST(CAST(full_pairs - masked_pairs AS HUGEINT) * 1000000
                 // nullif(CAST(full_pairs AS HUGEINT), 0) AS BIGINT)
                 AS saved_ppm
        FROM rep r JOIN ds USING (source)
        ORDER BY r.source"""

  /** q337/s63 shared per-sample half — stateless ×8 explode: one
    * binary md5-coin reward per (prompt, sample). */
  /** q338 shared body over any (source, l) length frame — factored so
    * the exhaustive rounding-identity spec can drive it with every
    * length in a boundary-covering range, not just the fixture draws.
    * Empty docs (l < 1) never allocate. */
  private[graft] def pagedKvReport(d0: DataFrame): DataFrame =
    d0.filter(col("l") >= 1)
      .withColumn("bs", explode(expr(
        "array(CAST(4 AS BIGINT), CAST(16 AS BIGINT), CAST(64 AS BIGINT))")))
      .withColumn("blocks", expr("(l + bs - 1) div bs"))
      .groupBy("source", "bs")
      .agg(count(lit(1)).as("n_docs"),
        sum("l").as("total_tokens"),
        sum("blocks").as("page_entries"),
        sum(expr("blocks * bs")).as("reserved_tokens"),
        sum(expr("blocks * bs - l")).as("frag_tokens"))
      // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
      .withColumn("frag_ppm", expr(
        """CAST(CAST(frag_tokens AS DECIMAL(38,0)) * 1000000
           div nullif(reserved_tokens, 0) AS BIGINT)"""))
      .select("source", "bs", "n_docs", "total_tokens", "page_entries",
        "reserved_tokens", "frag_tokens", "frag_ppm")
      .orderBy("source", "bs")

  private[graft] def grpoSamples(docs: DataFrame): DataFrame =
    docs
      .withColumn("samp", explode(expr("sequence(0, 7)")))
      .withColumn("r", expr(
        """CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), '_s',
              CAST(samp AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2"""))
      .select("doc_id", "source", "samp", "r")

  /** q337/s63 shared rollup half. With binary rewards the group's
    * absolute-advantage mass has a closed form: samples with r = 1
    * contribute |k − S| each (S·(k−S) total), samples with r = 0
    * contribute S each ((k−S)·S total) — so Σ|k·r − S| = 2·S·(k−S),
    * and no second pass over the samples is needed. k = 8. */
  private[graft] def grpoReport(samples: DataFrame): DataFrame =
    samples.groupBy("doc_id", "source")
      .agg(sum("r").as("gsum"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_groups"),
        sum((col("gsum") === 8).cast("long")).as("all_pass_groups"),
        sum((col("gsum") === 0).cast("long")).as("all_fail_groups"),
        sum("gsum").as("n_pass"),
        sum(expr("2 * gsum * (8 - gsum)")).as("adv_mass"))
      // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
      .withColumn("degenerate_ppm", expr(
        """CAST(CAST(all_pass_groups + all_fail_groups AS DECIMAL(38,0))
           * 1000000 div n_groups AS BIGINT)"""))
      .withColumn("pass_ppm", expr(
        """CAST(CAST(n_pass AS DECIMAL(38,0)) * 1000000
           div (n_groups * 8) AS BIGINT)"""))
      .withColumn("mean_abs_adv_milli", expr(
        """CAST(CAST(adv_mass AS DECIMAL(38,0)) * 1000
           div (n_groups * 64) AS BIGINT)"""))
      .select("source", "n_groups", "all_pass_groups", "all_fail_groups",
        "n_pass", "degenerate_ppm", "pass_ppm", "adv_mass",
        "mean_abs_adv_milli")
      .orderBy("source")

  /** q337's oracle, shared VERBATIM by s63. */
  private[graft] def grpoOracle: String = """
        WITH samples AS (
          SELECT doc_id, source, t.s AS samp,
                 CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) ||
                   '_s' || t.s), 1, 15)) AS BIGINT) % 2 AS r
          FROM documents, UNNEST(range(0, 8)) AS t(s)),
        groups AS (
          SELECT doc_id, source, CAST(SUM(r) AS BIGINT) AS gsum
          FROM samples GROUP BY doc_id, source),
        rep AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_groups,
                 CAST(count_if(gsum = 8) AS BIGINT) AS all_pass_groups,
                 CAST(count_if(gsum = 0) AS BIGINT) AS all_fail_groups,
                 CAST(SUM(gsum) AS BIGINT) AS n_pass,
                 CAST(SUM(2 * gsum * (8 - gsum)) AS BIGINT) AS adv_mass
          FROM groups GROUP BY source)
        SELECT source, n_groups, all_pass_groups, all_fail_groups, n_pass,
               CAST(CAST(all_pass_groups + all_fail_groups AS HUGEINT)
                 * 1000000 // CAST(n_groups AS HUGEINT) AS BIGINT)
                 AS degenerate_ppm,
               CAST(CAST(n_pass AS HUGEINT) * 1000000
                 // CAST(n_groups * 8 AS HUGEINT) AS BIGINT) AS pass_ppm,
               adv_mass,
               CAST(CAST(adv_mass AS HUGEINT) * 1000
                 // CAST(n_groups * 64 AS HUGEINT) AS BIGINT)
                 AS mean_abs_adv_milli
        FROM rep
        ORDER BY source"""

  /** Exact integer sqrt (floor) of a non-negative DECIMAL(38,0)
    * column: a double-sqrt seed then a ±1 integer correction in
    * DECIMAL(38,0) — the q325 IEEE-exactness discipline extended past
    * 2⁵², where the bare double no longer lands on the exact integer.
    * Valid while the seed is within 1 of the true root, i.e. x below
    * ~3·10³² (seed error ≈ √x · 5.5·10⁻¹⁷); law-spec'd exhaustively
    * around perfect squares and at the magnitudes q349 reaches. */
  private[graft] def exactIsqrt(df: DataFrame, x: String,
      out: String): DataFrame =
    df.withColumn("_s0", expr(
        s"CAST(floor(sqrt(CAST($x AS DOUBLE))) AS BIGINT)"))
      .withColumn(out, expr(
        s"""CASE WHEN CAST(_s0 + 1 AS DECIMAL(38,0)) * (_s0 + 1) <= $x
                 THEN _s0 + 1
                 WHEN CAST(_s0 AS DECIMAL(38,0)) * _s0 > $x THEN _s0 - 1
                 ELSE _s0 END"""))
      .drop("_s0")

  /** q361/s68 shared per-row half: (event_type, batch, vc) gradient-
    * contribution rows — batch = user_id % 16, values in exact cents.
    * Pure per-row arithmetic, which is what lets s68 stream it inside
    * the tick. The uid ≥ 0 filter drops the streaming drain's flush
    * sentinel (harmless on the batch path: fixture uids are ≥ 0). */
  private[graft] def gnsProject(events: DataFrame): DataFrame =
    events
      .filter(col("user_id") >= 0)
      .select(col("event_type"),
        expr("user_id % 16").as("batch"),
        expr("cast(cast(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("vc"))

  /** q361/s68 shared rollup half: per event_type, B ≤ 16 batch sums →
    * noise_ppm = 1e6·(B·Σg² − (Σg)²)/(Σg)² (≥ 0 by Cauchy–Schwarz) and
    * the B_crit heuristic B·noise. Σg² runs in DECIMAL(38). */
  private[graft] def gnsReport(rows: DataFrame): DataFrame =
    rows.groupBy("event_type", "batch")
      .agg(sum("vc").as("g"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_batches"),
        sum("g").as("grad_mass_cents"),
        sum(expr("CAST(g AS DECIMAL(38,0)) * g")).as("ss"),
        max("g").as("max_batch_cents"),
        min("g").as("min_batch_cents"))
      // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
      .withColumn("noise_ppm", expr(
        """CAST((CAST(n_batches AS DECIMAL(38,0)) * ss
                - CAST(grad_mass_cents AS DECIMAL(38,0))
                  * grad_mass_cents) * 1000000
           div nullif(CAST(grad_mass_cents AS DECIMAL(38,0))
                      * grad_mass_cents, 0) AS BIGINT)"""))
      .withColumn("bcrit_milli", expr("n_batches * noise_ppm div 1000"))
      .select("event_type", "n_batches", "grad_mass_cents",
        "max_batch_cents", "min_batch_cents", "noise_ppm", "bcrit_milli")
      .orderBy("event_type")

  /** q361's oracle, shared VERBATIM by s68. */
  private[graft] def gnsOracle: String = """
        WITH rows_ AS (
          SELECT event_type, user_id % 16 AS batch,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vc
          FROM events WHERE user_id >= 0),
        b AS (
          SELECT event_type, batch, CAST(SUM(vc) AS BIGINT) AS g
          FROM rows_ GROUP BY event_type, batch),
        r AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_batches,
                 CAST(SUM(g) AS BIGINT) AS grad_mass_cents,
                 SUM(CAST(g AS HUGEINT) * g) AS ss,
                 CAST(MAX(g) AS BIGINT) AS max_batch_cents,
                 CAST(MIN(g) AS BIGINT) AS min_batch_cents
          FROM b GROUP BY event_type),
        x AS (
          SELECT r.*,
                 CAST((CAST(n_batches AS HUGEINT) * ss
                       - CAST(grad_mass_cents AS HUGEINT)
                         * grad_mass_cents) * 1000000
                   // nullif(CAST(grad_mass_cents AS HUGEINT)
                             * grad_mass_cents, 0) AS BIGINT)
                   AS noise_ppm
          FROM r)
        SELECT event_type, n_batches, grad_mass_cents, max_batch_cents,
               min_batch_cents, noise_ppm,
               CAST(n_batches * noise_ppm // 1000 AS BIGINT)
                 AS bcrit_milli
        FROM x
        ORDER BY event_type"""

  /** q371/s70 shared arrival plant: every 7th doc re-arrives VERBATIM
    * (novelty must read exactly 0), every 7th+3 doc arrives as a fresh
    * synthetic item whose id-bearing tokens no corpus gram contains.
    * The arrival class rides the union as a LITERAL `cls` column (set
    * where each branch is constructed), so downstream never re-derives
    * it from the id — correct for any fixture doc_id range (with cls
    * in the grouping key, even an id collision between the two branches
    * could not merge their rows). The 700000/800000 offsets merely keep
    * the arrival ids human-readable as "planted". */
  private[graft] def novelArrivals(docs: DataFrame): DataFrame = {
    docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 700000).as("doc_id"), col("source"),
        col("text"), lit("recrawl").as("cls"))
      .unionByName(docs.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 800000).as("doc_id"), col("source"),
          concat(lit("fresh shard item "), col("doc_id").cast("string"),
            lit(" payload "), (col("doc_id") * 31).cast("string"))
            .as("text"), lit("fresh").as("cls")))
  }

  /** q371/s70 shared flag frame: arrival docs explode into per-doc-
    * distinct 5-gram hashes and LEFT-join the standing corpus gram
    * index for a known/new flag. `arrivals` may be a STREAMING frame —
    * the join is then Spark's stream-static left outer (static index on
    * the right), which is exactly the standing-index shape a
    * continuous ingest runs at 100 TB. Gram strings never ride a
    * shuffle — only md5-prefix BIGINTs. */
  private[graft] def arrivalGramFlags(s: org.apache.spark.sql.SparkSession,
      arrivals: DataFrame, corpus: DataFrame): DataFrame = {
    // spread + persist (r14): the standing index is built from a
    // single-row-group scan (one-task explode+md5, guide §2.5) and its
    // subplan RE-EXECUTES on every micro-batch of s70's stream-static
    // join — persisted, batches 2..n probe the cached index instead of
    // re-featurizing the corpus
    val index =
      graft.Tables.spread(corpus, col("doc_id"))
        .select(explode(expr("array_distinct(graft_word_ngrams(text, 5))"))
          .as("gram"))
        .select(expr(
          "CAST(conv(substr(md5(gram), 1, 15), 16, 10) AS BIGINT)").as("h"))
        .distinct()
        .withColumn("known", lit(1))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // `cls` is the literal carried from novelArrivals' union branches —
    // never re-derived from the id, so no fixture id-range assumption.
    arrivals
      .select(col("doc_id"), col("cls"),
        explode(expr("array_distinct(graft_word_ngrams(text, 5))"))
          .as("gram"))
      .select(col("doc_id"), col("cls"), expr(
        "CAST(conv(substr(md5(gram), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .join(index, Seq("h"), "left")
  }

  /** q371/s70 shared rollup half: per arrival class, gram and novelty
    * masses from the drained flag frame. */
  private[graft] def noveltyTickReport(flags: DataFrame): DataFrame =
    flags.groupBy("cls")
      .agg(countDistinct("doc_id").as("docs"),
        count(lit(1)).as("gram_mass"),
        sum(expr("CASE WHEN known IS NULL THEN 1L ELSE 0L END"))
          .as("novel_mass"))
      .withColumn("novelty_ppm", expr(
        "novel_mass * 1000000 div nullif(gram_mass, 0)"))
      .select("cls", "docs", "gram_mass", "novel_mass", "novelty_ppm")
      .orderBy("cls")

  /** q371's oracle, shared VERBATIM by s70. */
  private[graft] def noveltyTickOracle: String = """
        WITH arr AS (
          SELECT doc_id + 700000 AS doc_id, 'recrawl' AS cls, text
          FROM documents WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id + 800000, 'fresh',
                 'fresh shard item ' || CAST(doc_id AS VARCHAR) ||
                 ' payload ' || CAST(doc_id * 31 AS VARCHAR)
          FROM documents WHERE doc_id % 7 = 3),
        idx AS (
          SELECT DISTINCT
                 CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT)
                   AS h
          FROM (SELECT UNNEST(list_transform(range(1, len(ws) - 3),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] ||
                             ' ' || ws[i+3] || ' ' || ws[i+4])) AS gram
                FROM (SELECT string_split(text, ' ') AS ws
                      FROM documents))),
        ag0 AS (
          SELECT DISTINCT doc_id, cls,
                 UNNEST(list_transform(range(1, len(ws) - 3),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] ||
                             ' ' || ws[i+3] || ' ' || ws[i+4])) AS gram
          FROM (SELECT doc_id, cls, string_split(text, ' ') AS ws
                FROM arr)),
        ag AS (
          SELECT doc_id, cls,
                 CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT)
                   AS h
          FROM ag0)
        SELECT cls, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs,
               CAST(COUNT(*) AS BIGINT) AS gram_mass,
               CAST(SUM(CASE WHEN h IN (SELECT h FROM idx)
                             THEN 0 ELSE 1 END) AS BIGINT) AS novel_mass,
               CAST(SUM(CASE WHEN h IN (SELECT h FROM idx)
                             THEN 0 ELSE 1 END) * 1000000
                 // nullif(COUNT(*), 0) AS BIGINT) AS novelty_ppm
        FROM ag
        GROUP BY cls
        ORDER BY cls"""

  /** q365/s69 shared per-doc half: token count L plus the CLOSED-FORM
    * trainable-token count (L div 32)·16 + max(0, L mod 32 − 16) under
    * the 16-token alternating user/assistant template — pure per-row
    * arithmetic (no explode, no window), which is what lets s69 stream
    * it inside the tick. The closed form is simulator-spec'd in
    * LlmDataSpec for every L ≤ 200. */
  private[graft] def maskAssign(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        expr("""CAST(size(filter(split(text, ' '), w -> w <> ''))
                AS BIGINT)""").as("l"))
      .withColumn("train_toks", expr(
        "(l div 32) * 16 + greatest(0L, l % 32 - 16)"))

  /** q365/s69 shared rollup half: per-source mask accounting. */
  private[graft] def maskReport(perDoc: DataFrame): DataFrame =
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("l").as("total_tokens"),
        sum("train_toks").as("train_tokens"),
        sum((expr("l % 32") === 0 && col("l") > 0).cast("long"))
          .as("full_template_docs"))
      // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
      .withColumn("mask_ppm", expr(
        """CAST(CAST(train_tokens AS DECIMAL(38,0)) * 1000000
           div nullif(total_tokens, 0) AS BIGINT)"""))
      .select("source", "n_docs", "total_tokens", "train_tokens",
        "mask_ppm", "full_template_docs")
      .orderBy("source")

  /** q365's oracle, shared VERBATIM by s69. */
  private[graft] def maskOracle: String = """
        WITH d AS (
          SELECT doc_id, source,
                 CAST(len(list_filter(string_split(text, ' '),
                   w -> w <> '')) AS BIGINT) AS l
          FROM documents),
        m AS (
          SELECT source, l,
                 (l // 32) * 16 + greatest(0, l % 32 - 16) AS train_toks
          FROM d)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(l) AS BIGINT) AS total_tokens,
               CAST(SUM(train_toks) AS BIGINT) AS train_tokens,
               CAST(CAST(SUM(train_toks) AS HUGEINT) * 1000000
                 // nullif(CAST(SUM(l) AS HUGEINT), 0) AS BIGINT)
                 AS mask_ppm,
               CAST(SUM(CASE WHEN l % 32 = 0 AND l > 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS full_template_docs
        FROM m
        GROUP BY source
        ORDER BY source"""

  /** q351/s65 shared assignment half: per-doc (W, shard, tokens) rows
    * for W ∈ {8, 64, 512} loader workers — pure per-row column
    * arithmetic (md5 shard coin + token count), which is what lets
    * s65 stream it inside the tick. */
  private[graft] def shardAssign(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        expr("""CAST(size(filter(split(text, ' '), w -> w <> ''))
                AS BIGINT)""").as("l"))
      .withColumn("w", explode(expr("array(8L, 64L, 512L)")))
      .withColumn("shard", expr(
        """CAST(conv(substr(md5(concat('sh_', CAST(doc_id AS STRING))),
              1, 15), 16, 10) AS BIGINT) % w"""))
      .select("w", "shard", "l")

  /** q351/s65 shared rollup half: (W, shard) token cells → per-W
    * straggler/skew report. ≤ 584 cells total, so everything after
    * the first keyed aggregate is broadcast-sized. */
  private[graft] def shardSkewReport(asg: DataFrame): DataFrame =
    asg.groupBy("w", "shard")
      .agg(sum("l").as("st"), count(lit(1)).as("sd"))
      .groupBy("w")
      .agg(count(lit(1)).as("shards_used"),
        sum("sd").as("n_docs"),
        sum("st").as("total_tokens"),
        max("st").as("max_shard_tokens"),
        min("st").as("min_shard_tokens"))
      // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
      .withColumn("straggler_ppm", expr(
        """CAST(CAST(max_shard_tokens AS DECIMAL(38,0)) * 1000000
           div total_tokens AS BIGINT)"""))
      .withColumn("skew_excess_ppm", expr(
        """CAST(CAST(max_shard_tokens AS DECIMAL(38,0)) * w * 1000000
           div total_tokens AS BIGINT) - 1000000"""))
      .select("w", "shards_used", "n_docs", "total_tokens",
        "max_shard_tokens", "min_shard_tokens", "straggler_ppm",
        "skew_excess_ppm")
      .orderBy("w")

  /** q351's oracle, shared VERBATIM by s65. */
  private[graft] def shardSkewOracle: String = """
        WITH d AS (
          SELECT doc_id,
                 CAST(len(list_filter(string_split(text, ' '),
                   x -> x <> '')) AS BIGINT) AS l
          FROM documents),
        asg AS (
          SELECT t.w,
                 CAST(concat('0x', substr(md5('sh_' ||
                   CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % t.w
                   AS shard,
                 l
          FROM d, UNNEST([CAST(8 AS BIGINT), CAST(64 AS BIGINT),
                          CAST(512 AS BIGINT)]) AS t(w)),
        cells AS (
          SELECT w, shard, CAST(SUM(l) AS BIGINT) AS st,
                 CAST(COUNT(*) AS BIGINT) AS sd
          FROM asg GROUP BY w, shard),
        rep AS (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS shards_used,
                 CAST(SUM(sd) AS BIGINT) AS n_docs,
                 CAST(SUM(st) AS BIGINT) AS total_tokens,
                 CAST(MAX(st) AS BIGINT) AS max_shard_tokens,
                 CAST(MIN(st) AS BIGINT) AS min_shard_tokens
          FROM cells GROUP BY w)
        SELECT w, shards_used, n_docs, total_tokens, max_shard_tokens,
               min_shard_tokens,
               CAST(CAST(max_shard_tokens AS HUGEINT) * 1000000
                 // CAST(total_tokens AS HUGEINT) AS BIGINT)
                 AS straggler_ppm,
               CAST(CAST(max_shard_tokens AS HUGEINT) * w * 1000000
                 // CAST(total_tokens AS HUGEINT) AS BIGINT) - 1000000
                 AS skew_excess_ppm
        FROM rep
        ORDER BY w"""

  /** q352/s66 shared rollup half over the [[grpoSamples]] frame:
    * best-of-n = max reward over the FIRST n samples (prefix
    * semantics), n ∈ {1, 2, 4, 8} — one keyed per-prompt aggregate
    * with 4 conditional maxes, a 4-row stack, a ≤ sources×4 rollup.
    * Monotone nondecreasing in n by construction (law-spec'd). */
  private[graft] def bonReport(samples: DataFrame): DataFrame =
    samples.groupBy("doc_id", "source")
      .agg(max(when(col("samp") < 1, col("r"))).as("b1"),
        max(when(col("samp") < 2, col("r"))).as("b2"),
        max(when(col("samp") < 4, col("r"))).as("b4"),
        max(when(col("samp") < 8, col("r"))).as("b8"))
      .selectExpr("source",
        "stack(4, 1L, b1, 2L, b2, 4L, b4, 8L, b8) AS (n, bon)")
      .groupBy("source", "n")
      .agg(count(lit(1)).as("n_prompts"), sum("bon").as("hits"))
      // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
      .withColumn("bon_ppm", expr(
        """CAST(CAST(hits AS DECIMAL(38,0)) * 1000000 div n_prompts
           AS BIGINT)"""))
      .select("source", "n", "n_prompts", "hits", "bon_ppm")
      .orderBy("source", "n")

  /** q352's oracle, shared VERBATIM by s66. */
  private[graft] def bonOracle: String = """
        WITH samples AS (
          SELECT doc_id, source, t.s AS samp,
                 CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) ||
                   '_s' || t.s), 1, 15)) AS BIGINT) % 2 AS r
          FROM documents, UNNEST(range(0, 8)) AS t(s)),
        groups AS (
          SELECT doc_id, source,
                 MAX(CASE WHEN samp < 1 THEN r END) AS b1,
                 MAX(CASE WHEN samp < 2 THEN r END) AS b2,
                 MAX(CASE WHEN samp < 4 THEN r END) AS b4,
                 MAX(CASE WHEN samp < 8 THEN r END) AS b8
          FROM samples GROUP BY doc_id, source),
        st AS (
          SELECT source, t.n,
                 CASE t.n WHEN 1 THEN b1 WHEN 2 THEN b2
                          WHEN 4 THEN b4 ELSE b8 END AS bon
          FROM groups, UNNEST([CAST(1 AS BIGINT), CAST(2 AS BIGINT),
                               CAST(4 AS BIGINT), CAST(8 AS BIGINT)])
                 AS t(n)),
        rep AS (
          SELECT source, n, CAST(COUNT(*) AS BIGINT) AS n_prompts,
                 CAST(SUM(bon) AS BIGINT) AS hits
          FROM st GROUP BY source, n)
        SELECT source, n, n_prompts, hits,
               CAST(CAST(hits AS HUGEINT) * 1000000
                 // CAST(n_prompts AS HUGEINT) AS BIGINT) AS bon_ppm
        FROM rep
        ORDER BY source, n"""

  /** q353 shared plant projection: the fixture prose carries no
    * generation loops, so two deterministic families are appended —
    * doc_id % 13 = 5 gains a 4-token immediate-repeat run (must land
    * in docs_loop3 and max-run), % 17 = 3 a 6-token period-2 tail
    * (must land in rep2 mass, NOT in runs). Pure per-row column
    * arithmetic, mirrored verbatim in the oracle. */
  private[graft] def loopPlanted(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      expr("""CASE WHEN doc_id % 13 = 5
                THEN concat(text, ' loop loop loop loop')
              WHEN doc_id % 17 = 3
                THEN concat(text, ' ab cd ab cd ab cd')
              ELSE text END""").as("text"))

  /** q353 shared report half: per-doc immediate-repeat (tokᵢ =
    * tokᵢ₊₁) and period-2 (tokᵢ = tokᵢ₊₂) masses plus the longest
    * immediate-repeat run via the pos − row_number grouping device;
    * per-source rollup. Every window is per-doc (bounded by doc
    * length); run coalescing is simulator-spec'd. */
  private[graft] def loopReport(docs: DataFrame): DataFrame = {
    val wDoc = Window.partitionBy("doc_id").orderBy("pos") // ≤ doc length
    // two consumers (the runs gaps-and-islands aggregate and the per-doc
    // rollup) read the exploded per-token frame — persist so the
    // posexplode + two lead windows are paid once, not per consumer
    // (ADVICE r12; the q333/q343/q345 multiply-read class)
    val fl = docs
      .withColumn("wl", expr("filter(split(text, ' '), x -> x <> '')"))
      .filter(size(col("wl")) >= 2)
      .select(col("doc_id"), col("source"),
        posexplode(col("wl")).as(Seq("pos", "tok")))
      .withColumn("nx1", lead("tok", 1).over(wDoc))
      .withColumn("nx2", lead("tok", 2).over(wDoc))
      .withColumn("hn1", col("nx1").isNotNull.cast("long"))
      .withColumn("hn2", col("nx2").isNotNull.cast("long"))
      .withColumn("rep1",
        when(col("tok") === col("nx1"), 1L).otherwise(0L))
      .withColumn("rep2",
        when(col("tok") === col("nx2"), 1L).otherwise(0L))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // run grouping: among rep1 positions, pos − row_number is constant
    // within one consecutive run (the gaps-and-islands device); run
    // tokens = rep1 count + 1
    val wRep = Window.partitionBy("doc_id").orderBy("pos") // ≤ doc length
    val runs = fl.filter(col("rep1") === 1L)
      .withColumn("grp", col("pos") - row_number().over(wRep))
      .groupBy(col("doc_id").as("rd"), col("grp"))
      .agg((count(lit(1)) + 1).as("run_tokens"))
      .groupBy("rd").agg(max("run_tokens").as("max_run"))
    fl.groupBy("doc_id", "source")
      .agg(sum("hn1").as("n_pairs"), sum("hn2").as("n_triples"),
        sum("rep1").as("rep1_mass"), sum("rep2").as("rep2_mass"))
      .join(runs, col("doc_id") === col("rd"), "left")
      .withColumn("max_run", coalesce(col("max_run"), lit(1L)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_pairs").as("n_pairs"),
        sum("n_triples").as("n_triples"),
        sum("rep1_mass").as("rep1_mass"),
        sum("rep2_mass").as("rep2_mass"),
        sum((col("max_run") >= 3L).cast("long")).as("docs_loop3"),
        max("max_run").as("max_run_tokens"))
      // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
      .withColumn("rep1_ppm", expr(
        """CAST(CAST(rep1_mass AS DECIMAL(38,0)) * 1000000
           div nullif(n_pairs, 0) AS BIGINT)"""))
      .withColumn("rep2_ppm", expr(
        """CAST(CAST(rep2_mass AS DECIMAL(38,0)) * 1000000
           div nullif(n_triples, 0) AS BIGINT)"""))
      .select("source", "n_docs", "n_pairs", "n_triples", "rep1_mass",
        "rep1_ppm", "rep2_mass", "rep2_ppm", "docs_loop3",
        "max_run_tokens")
      .orderBy("source")
  }

  /** q353's oracle. */
  private[graft] def loopOracle: String = """
        WITH planted AS (
          SELECT doc_id, source,
                 CASE WHEN doc_id % 13 = 5
                   THEN text || ' loop loop loop loop'
                 WHEN doc_id % 17 = 3
                   THEN text || ' ab cd ab cd ab cd'
                 ELSE text END AS text
          FROM documents),
        wl AS (
          SELECT doc_id, source,
                 list_filter(string_split(text, ' '), x -> x <> '') AS w
          FROM planted),
        toks AS (
          SELECT doc_id, source, t.i - 1 AS pos, w[t.i] AS tok,
                 w[t.i + 1] AS nx1, w[t.i + 2] AS nx2,
                 CASE WHEN t.i + 1 <= len(w) THEN 1 ELSE 0 END AS hn1,
                 CASE WHEN t.i + 2 <= len(w) THEN 1 ELSE 0 END AS hn2,
                 CASE WHEN w[t.i] = w[t.i + 1] THEN 1 ELSE 0 END AS rep1,
                 CASE WHEN w[t.i] = w[t.i + 2] THEN 1 ELSE 0 END AS rep2
          FROM wl, UNNEST(range(1, len(w) + 1)) AS t(i)
          WHERE len(w) >= 2),
        runs AS (
          SELECT doc_id, MAX(run_tokens) AS max_run FROM (
            SELECT doc_id,
                   CAST(COUNT(*) + 1 AS BIGINT) AS run_tokens
            FROM (
              SELECT doc_id, pos,
                     pos - row_number() OVER (PARTITION BY doc_id
                       ORDER BY pos) AS grp
              FROM toks WHERE rep1 = 1)
            GROUP BY doc_id, grp)
          GROUP BY doc_id),
        per_doc AS (
          SELECT t.doc_id, t.source,
                 CAST(SUM(hn1) AS BIGINT) AS n_pairs,
                 CAST(SUM(hn2) AS BIGINT) AS n_triples,
                 CAST(SUM(rep1) AS BIGINT) AS rep1_mass,
                 CAST(SUM(rep2) AS BIGINT) AS rep2_mass
          FROM toks t GROUP BY t.doc_id, t.source),
        joined AS (
          SELECT p.*, coalesce(r.max_run, 1) AS max_run
          FROM per_doc p LEFT JOIN runs r USING (doc_id)),
        rep AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_pairs) AS BIGINT) AS n_pairs,
                 CAST(SUM(n_triples) AS BIGINT) AS n_triples,
                 CAST(SUM(rep1_mass) AS BIGINT) AS rep1_mass,
                 CAST(SUM(rep2_mass) AS BIGINT) AS rep2_mass,
                 CAST(count_if(max_run >= 3) AS BIGINT) AS docs_loop3,
                 CAST(MAX(max_run) AS BIGINT) AS max_run_tokens
          FROM joined GROUP BY source)
        SELECT source, n_docs, n_pairs, n_triples, rep1_mass,
               CAST(CAST(rep1_mass AS HUGEINT) * 1000000
                 // nullif(CAST(n_pairs AS HUGEINT), 0) AS BIGINT)
                 AS rep1_ppm,
               rep2_mass,
               CAST(CAST(rep2_mass AS HUGEINT) * 1000000
                 // nullif(CAST(n_triples AS HUGEINT), 0) AS BIGINT)
                 AS rep2_ppm,
               docs_loop3, max_run_tokens
        FROM rep
        ORDER BY source"""

  /** q354 committee-vote half: 3 md5-coin "hard" votes per doc as
    * three COLUMNS (no explode), vote sum 0..3 — pure per-row
    * arithmetic. */
  private[graft] def committeeVotes(docs: DataFrame): DataFrame = {
    def v(j: Int) =
      s"""(CAST(conv(substr(md5(concat('cm${j}_',
            CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2)"""
    docs.select(col("doc_id"), col("source"),
      expr(s"${v(0)} + ${v(1)} + ${v(2)}").as("votes"))
  }

  /** q354 router half over any (doc_id, source, votes ∈ 0..3) frame —
    * factored so the tier law is spec'd over all 8 vote patterns.
    * Tiers: unanimous-easy (0) → 1 annotator, split (1, 2) → 3,
    * unanimous-hard (3) → 5. */
  private[graft] def routerReport(votes: DataFrame): DataFrame =
    votes
      .withColumn("k", expr(
        "CASE WHEN votes = 0 THEN 1L WHEN votes = 3 THEN 5L ELSE 3L END"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("k") === 1L).cast("long")).as("tier1_docs"),
        sum((col("k") === 3L).cast("long")).as("tier3_docs"),
        sum((col("k") === 5L).cast("long")).as("tier5_docs"),
        sum("k").as("annotation_cost"),
        sum(expr("CAST(votes IN (1, 2) AS LONG)")).as("disagreements"))
      // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
      .withColumn("cost_vs_all5_ppm", expr(
        """CAST(CAST(annotation_cost AS DECIMAL(38,0)) * 1000000
           div (n_docs * 5) AS BIGINT)"""))
      .withColumn("disagreement_ppm", expr(
        """CAST(CAST(disagreements AS DECIMAL(38,0)) * 1000000
           div n_docs AS BIGINT)"""))
      .select("source", "n_docs", "tier1_docs", "tier3_docs",
        "tier5_docs", "annotation_cost", "cost_vs_all5_ppm",
        "disagreements", "disagreement_ppm")
      .orderBy("source")

  /** q354's oracle. */
  private[graft] def routerOracle: String = {
    def v(j: Int) =
      s"""(CAST(concat('0x', substr(md5('cm${j}_' ||
            CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2)"""
    s"""
        WITH votes AS (
          SELECT doc_id, source,
                 ${v(0)} + ${v(1)} + ${v(2)} AS votes
          FROM documents),
        routed AS (
          SELECT source, votes,
                 CASE WHEN votes = 0 THEN 1
                      WHEN votes = 3 THEN 5 ELSE 3 END AS k
          FROM votes),
        rep AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(count_if(k = 1) AS BIGINT) AS tier1_docs,
                 CAST(count_if(k = 3) AS BIGINT) AS tier3_docs,
                 CAST(count_if(k = 5) AS BIGINT) AS tier5_docs,
                 CAST(SUM(k) AS BIGINT) AS annotation_cost,
                 CAST(count_if(votes IN (1, 2)) AS BIGINT)
                   AS disagreements
          FROM routed GROUP BY source)
        SELECT source, n_docs, tier1_docs, tier3_docs, tier5_docs,
               annotation_cost,
               CAST(CAST(annotation_cost AS HUGEINT) * 1000000
                 // CAST(n_docs * 5 AS HUGEINT) AS BIGINT)
                 AS cost_vs_all5_ppm,
               disagreements,
               CAST(CAST(disagreements AS HUGEINT) * 1000000
                 // CAST(n_docs AS HUGEINT) AS BIGINT)
                 AS disagreement_ppm
        FROM rep
        ORDER BY source"""
  }

  /** q355 plant projection: true canaries (`canary_` + 8 md5 hex) at
    * doc_id % 31 = 7, near-canary decoys (7 hex + 'z' — one char off
    * the hex class, must NOT match) at % 37 = 11; plant counts ride
    * along so the report can reconcile detection against the schedule
    * without the detector ever seeing the arithmetic. */
  private[graft] def canaryPlanted(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      expr("""CASE WHEN doc_id % 31 = 7
                THEN concat(text, ' canary_',
                  substr(md5(concat('cn_', CAST(doc_id AS STRING))), 1, 8))
              WHEN doc_id % 37 = 11
                THEN concat(text, ' canary_',
                  substr(md5(concat('cn_', CAST(doc_id AS STRING))), 1, 7),
                  'z')
              ELSE text END""").as("text"),
      expr("CAST(doc_id % 31 = 7 AS LONG)").as("planted"),
      expr("CAST(doc_id % 37 = 11 AND doc_id % 31 <> 7 AS LONG)")
        .as("decoy"))

  /** q355 detection + reconciliation half: the detector is ONLY the
    * extraction regex (`canary_[0-9a-f]{8}`) over text; recovered is
    * compared against the planted schedule per source. */
  private[graft] def canaryReport(planted: DataFrame): DataFrame =
    planted
      .withColumn("hits", expr(
        """CAST(size(regexp_extract_all(text,
           'canary_[0-9a-f]{8}', 0)) AS BIGINT)"""))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("planted").as("planted"),
        sum("decoy").as("decoys_planted"),
        sum((col("hits") > 0).cast("long")).as("detected_docs"),
        sum("hits").as("detected_tokens"),
        sum(when(col("decoy") === 1L, col("hits")).otherwise(0L))
          .as("decoy_matches"))
      // DECIMAL(38) ↔ HUGEINT (the q319 ADVICE class)
      .withColumn("recovered_ppm", expr(
        """CAST(CAST(detected_docs AS DECIMAL(38,0)) * 1000000
           div nullif(planted, 0) AS BIGINT)"""))
      .select("source", "n_docs", "planted", "detected_docs",
        "detected_tokens", "recovered_ppm", "decoys_planted",
        "decoy_matches")
      .orderBy("source")

  /** q355's oracle. */
  private[graft] def canaryOracle: String = """
        WITH planted AS (
          SELECT doc_id, source,
                 CASE WHEN doc_id % 31 = 7
                   THEN text || ' canary_' ||
                        substr(md5('cn_' || CAST(doc_id AS VARCHAR)), 1, 8)
                 WHEN doc_id % 37 = 11
                   THEN text || ' canary_' ||
                        substr(md5('cn_' || CAST(doc_id AS VARCHAR)), 1, 7) ||
                        'z'
                 ELSE text END AS text,
                 CASE WHEN doc_id % 31 = 7 THEN 1 ELSE 0 END AS p,
                 CASE WHEN doc_id % 37 = 11 AND doc_id % 31 <> 7
                      THEN 1 ELSE 0 END AS d
          FROM documents),
        det AS (
          SELECT source, p, d,
                 CAST(len(regexp_extract_all(text,
                   'canary_[0-9a-f]{8}')) AS BIGINT) AS hits
          FROM planted),
        rep AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(p) AS BIGINT) AS planted,
                 CAST(SUM(d) AS BIGINT) AS decoys_planted,
                 CAST(count_if(hits > 0) AS BIGINT) AS detected_docs,
                 CAST(SUM(hits) AS BIGINT) AS detected_tokens,
                 CAST(SUM(CASE WHEN d = 1 THEN hits ELSE 0 END)
                   AS BIGINT) AS decoy_matches
          FROM det GROUP BY source)
        SELECT source, n_docs, planted, detected_docs, detected_tokens,
               CAST(CAST(detected_docs AS HUGEINT) * 1000000
                 // nullif(CAST(planted AS HUGEINT), 0) AS BIGINT)
                 AS recovered_ppm,
               decoys_planted, decoy_matches
        FROM rep
        ORDER BY source"""

  /** q66's oracle, shared verbatim by s36. */
  private[graft] def decontaminationOracle: String = """
        WITH bench AS (
          SELECT doc_id AS bench_id,
                 array_to_string(string_split(text, ' ')[6:25], ' ') AS text
          FROM documents WHERE doc_id % 13 = 0),
        bgrams AS (
          SELECT bench_id,
                 UNNEST(list_transform(range(1, len(ws) - 3),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                             ws[i+3] || ' ' || ws[i+4])) AS g
          FROM (SELECT bench_id, string_split(text, ' ') AS ws FROM bench)),
        cgrams AS (
          SELECT DISTINCT UNNEST(list_transform(range(1, len(ws) - 3),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                             ws[i+3] || ' ' || ws[i+4])) AS g
          FROM (SELECT string_split(text, ' ') AS ws FROM documents)),
        agg AS (
          SELECT bench_id,
                 COUNT(*) AS n_grams,
                 COUNT(CASE WHEN g IN (SELECT g FROM cgrams) THEN 1 END) AS n_hit
          FROM bgrams
          GROUP BY bench_id)
        SELECT bench_id, n_grams, n_hit,
               n_hit * 1000 // n_grams AS hit_permille,
               (n_hit * 1000 // n_grams) > 500 AS contaminated
        FROM agg
        ORDER BY bench_id"""
}
