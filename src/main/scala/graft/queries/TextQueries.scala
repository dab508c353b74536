package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables
import graft.functions.TextPrimitives._

/** Text-analysis operators for the training-data pipeline (north star):
  * language ID, quality scoring, token counting, document
  * fingerprinting — each over `documents`, each with a DuckDB oracle
  * built from the same constants ([[graft.functions.TextPrimitives]]).
  *
  * All four are embarrassingly parallel scans (no shuffle except the
  * final presentation sort): per-row expression trees that Catalyst
  * keeps inside whole-stage codegen. At 100 TB these run at scan speed.
  */
object TextQueries {

  private def docs(spark: SparkSession, dir: String): Unit = {
    Tables.load(spark, dir, "documents").createOrReplaceTempView("documents")
  }

  /** t1 — language ID: stopword-hit argmax over {en,de,es,fr} plus a
    * CJK-codepoint check for zh, deterministic tie-break by CASE order.
    * (On the synthetic corpus the signal is weak — the point is the
    * operator shape: token-set scoring at scan speed.) */
  def t1LangId(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
    val w = "split(text, ' ')"
    val scores = Seq("en", "de", "es", "fr")
      .map(l => s"${stopHitsSpark(w, stopwords(l))} AS s_$l").mkString(", ")
    spark.sql(s"""
      SELECT doc_id, lang, CASE
          WHEN s_zh > 0 THEN 'zh'
          WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
          WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
          WHEN s_es >= s_fr THEN 'es'
          ELSE 'fr' END AS pred_lang
      FROM (SELECT doc_id, lang, $scores,
              char_length(regexp_replace(text, '[^\\u4e00-\\u9fff]', '')) AS s_zh
            FROM documents)
      ORDER BY doc_id""")
  }

  /** The t2 quality-score computation as a shared CTE over
    * `documents` — (doc_id, source, n_tokens, score), docs with
    * n_tokens > 0. ONE spelling shared by t2 and l17's per-domain cap
    * so the formula cannot drift between them; [[qualityCteDuck]] is
    * its oracle twin under the same contract. */
  private[queries] val qualityCteSpark: String =
    // split sits behind a one-row explode barrier: the pushed-down
    // `n_tokens > 0` gate otherwise re-tokenizes every row a second
    // time in the scan filter (Filter codegen has no cross-conjunct
    // CSE); a predicate referencing generator output stays above the
    // Generate, so the tokenization runs once per row
    s"""scored AS (SELECT doc_id, source, n_tokens,
          round(0.5 * stop_hits / n_tokens
              + 0.3 * least(1.0, n_tokens / 100.0)
              + 0.2 * (1.0 - punct / CAST(n_chars AS DOUBLE)), 6) AS score
        FROM (SELECT doc_id, source, n_chars,
                CAST(size(w) AS BIGINT) AS n_tokens,
                CAST(${stopHitsSpark("w", stopwords("en"))} AS DOUBLE) AS stop_hits,
                CAST(char_length(regexp_replace(text, '[A-Za-z0-9 ]', '')) AS DOUBLE) AS punct
              FROM documents
              LATERAL VIEW explode(array(split(text, ' '))) tw AS w)
        WHERE n_tokens > 0)"""

  private[queries] val qualityCteDuck: String = {
    val w = "string_split(text, ' ')"
    s"""scored AS (SELECT doc_id, source, n_tokens,
          round(0.5 * stop_hits / n_tokens
              + 0.3 * least(1.0, n_tokens / 100.0)
              + 0.2 * (1.0 - punct / CAST(n_chars AS DOUBLE)), 6) AS score
        FROM (SELECT doc_id, source, n_chars,
                CAST(length($w) AS BIGINT) AS n_tokens,
                CAST(${stopHitsDuck(w, stopwords("en"))} AS DOUBLE) AS stop_hits,
                CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) AS punct
              FROM documents)
        WHERE n_tokens > 0)"""
  }

  /** t2 — quality score: stopword ratio + length saturation + inverse
    * punctuation density, the classic cheap pre-filter stack for web
    * corpora; rounded to 6dp for cross-engine stability. */
  def t2QualityScore(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
    spark.sql(s"""
      WITH $qualityCteSpark
      SELECT doc_id, n_tokens, score FROM scored
      ORDER BY doc_id""")
  }

  /** t3 — token counting: whitespace tokens and BPE-ish pretokenizer
    * tokens (letter runs / digit runs / single punctuation). */
  def t3TokenCount(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
    spark.sql(s"""
      SELECT doc_id,
        CAST(size(split(text, '\\\\s+')) AS BIGINT) AS n_ws_tokens,
        CAST(bpe_token_count(text) AS BIGINT) AS n_bpe_tokens
      FROM documents ORDER BY doc_id""")
  }

  /** t4 — document fingerprint: order-sensitive polynomial rolling hash
    * of the full text (the engine-neutral analogue of the reference's
    * FNV-1a content addressing, utils/utils.go:8-14). */
  def t4Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
    spark.sql(s"""
      SELECT doc_id, ${rollingHashSpark("text")} AS fp
      FROM documents ORDER BY doc_id""")
  }

  /** t5 — corpus character-trigram profile: the frequency table a real
    * language-ID model is trained from (t1's stopword heuristic is the
    * cheap runtime stand-in). Explode → partial+final count aggregate →
    * top-30 with a full tie-break; the fan-out shuffles only (trigram,
    * partial count) pairs, and the top-k is a TakeOrdered, never a
    * global sort. */
  def t5NgramProfile(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
    spark.sql("""
      SELECT tg, count(*) AS cnt FROM (
        SELECT explode(char_trigrams(text)) AS tg
        FROM documents WHERE char_length(text) >= 3)
      GROUP BY tg ORDER BY cnt DESC, tg LIMIT 30""")
  }

  /** t6 — PII scrubbing, the redaction stage every pretraining curation
    * pipeline runs before training: emails → `<EMAIL>`, URLs → `<URL>`,
    * long digit runs (ids/phones) → `<ID>`, in that order (emails and
    * URLs would otherwise lose their digits to the id rule first). The
    * synthetic corpus carries no real PII, so a DETERMINISTIC PII layer
    * derived from doc_id is injected first and then scrubbed — the
    * oracle applies the same injection + redaction in SQL, so what's
    * gated is the redaction semantics, not luck about the corpus. Pure
    * per-row codegen regexp work: scan-speed, shuffles only for the
    * final ORDER BY. Patterns stay in the Java∩RE2 common subset so
    * both engines match identically. */
  def t6PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dirty = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com via https://ex.com/u/"), col("doc_id").cast("string"),
      lit(" ref "), (col("doc_id") + 9000000000L).cast("string"))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        regexp_replace(regexp_replace(regexp_replace(dirty,
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "https?://[^ ]+", "<URL>"),
          "[0-9]{9,}", "<ID>").as("clean"))
      .orderBy("doc_id")
  }

  /** t7 — repetition quality gate (the Gopher-style repetition rules):
    * per doc, the fraction of tokens taken by the single most frequent
    * word and the fraction of DUPLICATE adjacent bigrams — the two
    * cheapest detectors of boilerplate, keyword-stuffed spam and
    * template pages, run before any model-based scoring. One fused
    * codegen kernel (`repeat_stats`) computes both integer counts per
    * row at scan speed; the builtin spelling would explode every token
    * and run two shuffled aggregates per document — at 100 TB that's a
    * full-corpus token shuffle vs a scan. Fractions derive from the
    * integer counts with identical IEEE division on both engines and
    * round to 6dp; the keep decision compares the ROUNDED values so the
    * boolean is cross-engine stable by construction. */
  def t7Repetition(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
    // split behind a one-row explode barrier: the pushed-down
    // `n_tokens >= 2` gate otherwise re-tokenized every row a second
    // time in the scan filter (Filter codegen has no cross-conjunct
    // CSE); the kernel itself was never duplicated — rs feeds only
    // projections
    spark.sql("""
      SELECT doc_id, n_tokens, top_word_frac, dup_bigram_frac,
        (top_word_frac <= 0.2 AND dup_bigram_frac <= 0.2) AS keep_doc
      FROM (
        SELECT doc_id, n_tokens,
          round(rs[0] / CAST(n_tokens AS DOUBLE), 6) AS top_word_frac,
          round(1.0 - rs[1] / CAST(n_tokens - 1 AS DOUBLE), 6) AS dup_bigram_frac
        FROM (SELECT doc_id, CAST(size(w) AS BIGINT) AS n_tokens,
                     repeat_stats(w) AS rs
              FROM documents
              LATERAL VIEW explode(array(split(text, ' '))) tw AS w)
        WHERE n_tokens >= 2)
      ORDER BY doc_id""")
  }

  /** The deterministic DENORMALIZED suffix injected by t8 (the t6 PII
    * pattern: the clean synthetic corpus carries no decomposed
    * sequences, so a doc_id-derived layer is added and then
    * normalized — the oracle gates the normalization semantics, not
    * corpus luck). Four classic decomposed pairs, chosen by
    * doc_id % 4, repeated 1 + doc_id % 3 times: e+COMBINING ACUTE → é,
    * A+COMBINING RING → Å, n+COMBINING TILDE → ñ, o+COMBINING
    * DIAERESIS → ö. Each composition shrinks the text by exactly one
    * code point per repeat, so `n_composed` is an integer the oracle
    * reproduces exactly. */
  private val denormMarks: Seq[String] =
    Seq("e" -> 0x0301, "A" -> 0x030A, "n" -> 0x0303, "o" -> 0x0308)
      .map { case (base, mark) => base + mark.toChar }
  private val denormCase =
    s"CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN '${denormMarks(0)}' " +
      s"WHEN 1 THEN '${denormMarks(1)}' WHEN 2 THEN '${denormMarks(2)}' " +
      s"ELSE '${denormMarks(3)}' END"

  /** t8 — Unicode NFC normalization (the [[graft.functions.NfcNormalize]]
    * codegen expression): canonicalize before any exact-dedup /
    * fingerprint / shingle stage, because byte-different
    * render-identical spellings of the same accents would otherwise
    * defeat them all. Per-row scan-speed work; the fingerprint of the
    * NORMALIZED text is the cross-engine proof that both engines
    * produced byte-identical output. */
  def t8Normalize(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
    spark.sql(s"""
      SELECT doc_id,
        CAST(char_length(t) AS BIGINT) AS n_raw,
        CAST(char_length(nfc_normalize(t)) AS BIGINT) AS n_norm,
        CAST(char_length(t) - char_length(nfc_normalize(t)) AS BIGINT) AS n_composed,
        ${rollingHashSpark("nfc_normalize(t)")} AS fp
      FROM (SELECT doc_id,
              text || ' caf' || repeat($denormCase, CAST(1 + doc_id % 3 AS INT)) AS t
            FROM documents)
      ORDER BY doc_id""")
  }

  /** t9 — character-diversity quality gate (the [[graft.functions.CharStats]]
    * codegen kernel): per doc, code-point count, distinct code points,
    * the top code point's multiplicity and the Simpson concentration
    * Σc²/n² — the character-level detectors for mojibake, binary blobs
    * pasted as text and single-character flooding, which t7's
    * word-level gates cannot see (a garbage "word" is still one
    * token). One fused per-row hash loop at scan speed; the builtin
    * spelling explodes every character of the corpus through a
    * shuffled per-(doc, char) aggregate. All counts are exact
    * integers; the keep decision compares the 6dp-ROUNDED Simpson so
    * the boolean is cross-engine stable by construction. */
  def t9CharDiversity(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
    // The kernel sits behind a one-row explode barrier: a plain
    // projection alias gets substituted into the pushed-down
    // `n_cp > 0` filter (Filter codegen has no cross-conjunct CSE, so
    // char_stats ran twice per row); a predicate referencing generator
    // output cannot be pushed below the Generate, so `cs` is computed
    // exactly once per row.
    spark.sql("""
      SELECT doc_id, n_cp, n_distinct_cp, max_cp_count, simpson,
             (n_distinct_cp >= 10 AND simpson <= 0.2) AS keep_doc
      FROM (
        SELECT doc_id, n_cp, n_distinct_cp, max_cp_count,
               round(CAST(sum_c2 AS DOUBLE)
                     / (CAST(n_cp AS DOUBLE) * CAST(n_cp AS DOUBLE)), 6) AS simpson
        FROM (SELECT doc_id, cs[0] AS n_cp, cs[1] AS n_distinct_cp,
                     cs[2] AS max_cp_count, cs[3] AS sum_c2
              FROM documents
              LATERAL VIEW explode(array(char_stats(text))) t AS cs)
        WHERE n_cp > 0)
      ORDER BY doc_id""")
  }

  /** t10 — SUBWORD token counts: greedy longest-match over the fixed
    * [[graft.functions.TextPrimitives.subwordVocab]] (the
    * [[graft.functions.SubwordCount]] codegen kernel). t3 counts
    * whitespace tokens and BPE-SHAPED pretokens; real packing and
    * mixing budgets (l7/l12/l8) are in TOKENIZER tokens, and a
    * whitespace count under-estimates them by the subword fan-out —
    * this is the number a production pipeline actually budgets with.
    * Pure per-row scan work (one fused byte pass per doc, inside
    * whole-stage codegen); integer counts, so the DuckDB twin — the
    * per-word recursive-CTE restatement of the same greedy rule over
    * the same vocabulary literal — matches exactly. */
  def t10SubwordTokens(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
    spark.sql("""
      SELECT doc_id, subword_count(lower(text)) AS n_subword_tokens
      FROM documents ORDER BY doc_id""")
  }

  /** The t10 greedy subword count restated as DuckDB CTEs ending in
    * `swc(doc_id, n_subword)` — ONE spelling shared by t10's oracle
    * and l18's packing twin (must appear inside WITH RECURSIVE). At
    * each position the step is the LONGEST vocab piece matching the
    * prefix (list_max over the shared vocabulary literal; the ELSE 1
    * is the one-code-point OOV fallback), each step is one token,
    * recursion ends past the word's last char. Splitting on ' ' first
    * is equivalent to the kernel's whole-text pass because no vocab
    * piece contains a space. Every word reaches exactly one terminal
    * row (pos > length), whose cnt is the word's token count. */
  private[queries] val subwordCtesDuck: String =
    s"""wrd AS (
      SELECT doc_id, CAST(generate_subscripts(w, 1) AS BIGINT) AS wi, unnest(w) AS wd
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)),
    step AS (
      SELECT doc_id, wi, wd, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS cnt FROM wrd
      UNION ALL
      SELECT doc_id, wi, wd,
        pos + list_max(list_transform(${graft.functions.TextPrimitives.subwordVocabDuck},
          v -> CASE WHEN substr(wd, CAST(pos AS INT), length(v)) = v
                    THEN length(v) ELSE 1 END)),
        cnt + 1
      FROM step WHERE pos <= length(wd)),
    fin AS (SELECT doc_id, wi, MAX(cnt) AS c
            FROM step WHERE pos > length(wd) GROUP BY doc_id, wi),
    swc AS (SELECT d.doc_id, CAST(coalesce(f.s, 0) AS BIGINT) AS n_subword
            FROM documents d LEFT JOIN
              (SELECT doc_id, SUM(c) AS s FROM fin GROUP BY doc_id) f
              ON d.doc_id = f.doc_id)"""

  /** t11 — fuzzy (edit-distance) similarity JOIN: all document pairs
    * whose 16-char text prefix is within Levenshtein distance 2, via
    * the SymSpell deletion-neighborhood blocking scheme (Garbe):
    * dist(s,t) ≤ k ⟹ the k-deletion neighborhoods D_k(s), D_k(t)
    * intersect, so candidates are EXACTLY the pairs sharing a deletion
    * variant — an equi-join, with recall 1 by construction (the
    * brute-force oracle gates the scheme itself, the d13 convention).
    * This is the string-similarity join modality the dedup family
    * lacks: d1/d3 are set-overlap on shingles, t11 is character-level
    * edit distance — the right tool for short keys (titles, URLs,
    * names) where a single typo is one edit but shifts every shingle.
    *
    * Scale shape at 100 TB: variant generation is a per-row explode of
    * ~L²/2 16-char strings (L=16 ⇒ 137 variants — the classic SymSpell
    * space-for-equi-join trade), immediately hashed to 8-byte keys so
    * the shuffle carries (hash, doc_id) only; the candidate self-join
    * and pair-distinct are keyed equi-shuffles; the exact levenshtein
    * verify runs once per CANDIDATE pair, never per pair of documents.
    * A variant bucket of size m costs m² candidates — buckets are
    * true near-dup groups, so the quadratic term is inherent output
    * cost, not a planning accident (hot-key salting applies if a
    * pathological corpus concentrates one prefix). */
  /** All single-deletion variants of string column/lambda-var `s` —
    * the SymSpell neighborhood generator, exposed for FuzzyJoinSpec's
    * crafted-edge pins. sequence(1, length) is safe here because t11
    * only ever applies it to non-empty prefixes (documents are ≥ 44
    * chars at every SF; Spark's sequence(1, 0) would yield [1, 0]). */
  private[graft] def deletions1(s: String): String =
    s"transform(sequence(1, length($s)), i -> concat(substring($s, 1, i - 1), substring($s, i + 1, 1000)))"

  def t11FuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // spread AFTER projecting the 16-char prefix, not loadSpread: the
    // one-file documents scan is a single input split, which serialized
    // the WHOLE SymSpell neighborhood generation (explode + per-row
    // dedup) into one task per join side — StageProbe r18 measured the
    // two 1-task stages at ~0.9 s each with 31 cores idle (guide §2:
    // input parallelism floor; at real scale the scan splits natively).
    // The projection must come FIRST (guide §2.3, project before the
    // exchange): this relation is consumed four times (both self-join
    // sides + pa/pb), and a loadSpread exchange was measured carrying
    // the FULL text column in all four — at sf10eq that is the whole
    // corpus shuffled 4x to compute 16-char prefixes. The spread
    // exchange now moves (doc_id, p) only; the cheap scan+substring
    // stays single-split, the expensive kernel runs at session width.
    val d = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), expr("substring(text, 1, 16)").as("p"))
      .repartition(spark.sparkContext.defaultParallelism)
    // the ≤2-deletion neighborhood keys come from the fused
    // DeletionNbhHashes kernel (round 18, the LshBandSigs recipe): the
    // builtin spelling below materialized ~257 variant strings per row
    // and array_distinct'd them with ~33k string comparisons before
    // hashing — the kernel emits the identical hash set (ExpressionsSpec
    // pins kernel == builtin on real docs + unicode edges) straight from
    // the code-point boundaries, no string allocation, no quadratic
    // dedup. The superseded spelling, kept verbatim in the spec's ref
    // arm: xxhash64(explode(array_distinct(concat(array(p), d1,
    // flatten(transform(d1, v -> deletions1(v)))))))
    // explicit hash-repartition on the join key: the self-join's
    // exchange is otherwise AQE-sized from the variant table's BYTES
    // (~14 MB at sf1eq → 10 partitions), but the join's work is the
    // quadratic per-bucket pair expansion — compute-dense beyond its
    // input bytes, the d13/x70 hazard class. A user repartition on h is
    // exactly the partitioning the equi-join needs (no extra exchange;
    // both sides reuse it) and AQE cannot coalesce it. Measured at
    // sf1eq: the join stages ran 10-wide on 32 cores (8-core ratio
    // 0.99 — no scaling); width-pinned they use the session.
    val cand = d
      .select(col("doc_id"),
        explode(graft.functions.DeletionNbhHashes(col("p"))).as("h"))
      .select(col("h"), col("doc_id"))
      .repartition(spark.sparkContext.defaultParallelism, col("h"))
    val pairs = cand.as("a")
      .join(cand.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_a"), col("b.doc_id").as("doc_id_b"))
      .distinct()
    val pa = d.select(col("doc_id").as("doc_id_a"), col("p").as("pa"))
    val pb = d.select(col("doc_id").as("doc_id_b"), col("p").as("pb"))
    pairs.join(pa, "doc_id_a").join(pb, "doc_id_b")
      .select(col("doc_id_a"), col("doc_id_b"),
        levenshtein(col("pa"), col("pb")).cast("long").as("dist"))
      .filter(col("dist") <= 2)
      .orderBy("doc_id_a", "doc_id_b")
  }

  /** t12 — COLLOCATION mining: the top-20 document-level token
    * co-occurrence pairs with their LIFT scores — the
    * association-rule surface (market-basket over tokens) that
    * collocation extraction, query-suggestion and taxonomy induction
    * pipelines run. Lift = N·c_ab / (c_a·c_b) is deliberately the
    * RATIO form, not PMI: PMI is just log(lift), log is monotone, and
    * ×,÷ on exact integer counts are IEEE-correctly-rounded in both
    * engines (the s13 rational-idf argument), so the scores are
    * bit-identical cross-engine while a log spelling would be
    * libm-dependent.
    *
    * Scale shape: presence pairs come from a per-doc self-join of the
    * DISTINCT (doc, token) table — cost is Σ_doc k_doc², bounded by
    * doc length, never corpus²; per-token supports are one aggregate
    * broadcast back (vocabulary-sized); top-20 is a bounded heap. At
    * 100 TB the standard support-pruning step (drop tokens below
    * min-support before pairing — the Apriori property) slots in
    * front of the self-join unchanged. */
  def t12Collocations(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // persisted: three consumers (support aggregate + both self-join
    // sides) would each re-tokenize the corpus — the narrow
    // (doc, token) presence table is exactly the resemblancePairs
    // "mine once, consume many" case
    val dt = Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"), explode(expr("array_distinct(filter(split(text, ' '), w -> w <> ''))")).as("tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val support = dt.groupBy("tok").agg(count(lit(1)).as("c"))
    val nDocs = Tables.load(spark, dir, "documents").agg(count(lit(1)).as("n_docs"))
    val pairs = dt.as("a").join(dt.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
      .agg(count(lit(1)).as("c_ab"))
    pairs
      .join(broadcast(support.select(col("tok").as("tok_a"), col("c").as("c_a"))), "tok_a")
      .join(broadcast(support.select(col("tok").as("tok_b"), col("c").as("c_b"))), "tok_b")
      .crossJoin(broadcast(nDocs))
      .select(col("tok_a"), col("tok_b"), col("c_ab"),
        (col("n_docs").cast("double") * col("c_ab") / col("c_a") / col("c_b")).as("lift"))
      .orderBy(col("c_ab").desc, col("tok_a"), col("tok_b"))
      .limit(20)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t12_collocations"   -> (t12Collocations _),
    "t11_fuzzy_join"     -> (t11FuzzyJoin _),
    "t10_subword_tokens" -> (t10SubwordTokens _),
    "t9_char_diversity" -> (t9CharDiversity _),
    "t1_lang_id"       -> (t1LangId _),
    "t8_normalize"     -> (t8Normalize _),
    "t2_quality_score" -> (t2QualityScore _),
    "t3_token_count"   -> (t3TokenCount _),
    "t4_fingerprint"   -> (t4Fingerprint _),
    "t5_ngram_profile" -> (t5NgramProfile _),
    "t6_pii_scrub"     -> (t6PiiScrub _),
    "t7_repetition"    -> (t7Repetition _),
  )

  val oracleSql: Map[String, String] = {
    val w = "string_split(text, ' ')"
    val scoresDuck = Seq("en", "de", "es", "fr")
      .map(l => s"${stopHitsDuck(w, stopwords(l))} AS s_$l").mkString(", ")
    Map(
      // t12: same distinct-presence pairing, same integer supports,
      // the SAME ×,÷-only lift text — scores bit-identical
      "t12_collocations" ->
        """WITH dt AS (SELECT DISTINCT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS tok
               FROM documents),
        sup AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM dt GROUP BY tok),
        nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        p AS (SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(COUNT(*) AS BIGINT) AS c_ab
              FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
              GROUP BY a.tok, b.tok)
        SELECT tok_a, tok_b, c_ab,
               CAST(n_docs AS DOUBLE) * c_ab / sa.c / sb.c AS lift
        FROM p JOIN sup sa ON sa.tok = p.tok_a
               JOIN sup sb ON sb.tok = p.tok_b
               CROSS JOIN nd
        ORDER BY c_ab DESC, tok_a, tok_b LIMIT 20""",
      // brute-force all-pairs ground truth (the l4/d13 convention):
      // because SymSpell candidates have recall 1 by construction, the
      // exact twin gates the BLOCKING SCHEME itself, not just the
      // per-pair verify arithmetic
      "t11_fuzzy_join" ->
        """WITH d AS (SELECT doc_id, substring(text, 1, 16) AS p FROM documents)
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CAST(levenshtein(a.p, b.p) AS BIGINT) AS dist
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE levenshtein(a.p, b.p) <= 2
        ORDER BY doc_id_a, doc_id_b""",
      // the explode-per-character spelling the fused kernel must equal:
      // DuckDB's 1-based string indexing enumerates code points, the
      // same unit char_stats counts
      "t9_char_diversity" ->
        """WITH ch AS (SELECT doc_id,
                 unnest(list_transform(range(1, length(text) + 1), i -> text[i])) AS c
               FROM documents),
        cc AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY doc_id, c),
        st AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_cp,
                      COUNT(*) AS n_distinct_cp,
                      CAST(MAX(k) AS BIGINT) AS max_cp_count,
                      CAST(SUM(k * k) AS BIGINT) AS sum_c2
               FROM cc GROUP BY doc_id)
        SELECT doc_id, n_cp, n_distinct_cp, max_cp_count, simpson,
               (n_distinct_cp >= 10 AND simpson <= 0.2) AS keep_doc
        FROM (SELECT doc_id, n_cp, n_distinct_cp, max_cp_count,
                round(CAST(sum_c2 AS DOUBLE)
                      / (CAST(n_cp AS DOUBLE) * CAST(n_cp AS DOUBLE)), 6) AS simpson
              FROM st)
        WHERE n_cp > 0
        ORDER BY doc_id""",
      // the greedy longest-match rule restated per word as a recursive
      // CTE (the shared subwordCtesDuck chain — one spelling for t10
      // and l18's packing twin)
      "t10_subword_tokens" ->
        s"""WITH RECURSIVE $subwordCtesDuck
        SELECT doc_id, n_subword AS n_subword_tokens FROM swc
        ORDER BY doc_id""",
      "t1_lang_id" ->
        s"""SELECT doc_id, lang, CASE
            WHEN s_zh > 0 THEN 'zh'
            WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
            WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
            WHEN s_es >= s_fr THEN 'es'
            ELSE 'fr' END AS pred_lang
        FROM (SELECT doc_id, lang, $scoresDuck,
                length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS s_zh
              FROM documents)
        ORDER BY doc_id""",
      "t2_quality_score" ->
        s"""WITH $qualityCteDuck
        SELECT doc_id, n_tokens, score FROM scored
        ORDER BY doc_id""",
      "t3_token_count" ->
        s"""SELECT doc_id,
          CAST(length(string_split_regex(text, '\\s+')) AS BIGINT) AS n_ws_tokens,
          CAST(length(regexp_extract_all(text, '$bpeTokenPatternDuck')) AS BIGINT) AS n_bpe_tokens
        FROM documents ORDER BY doc_id""",
      "t4_fingerprint" ->
        s"SELECT doc_id, ${rollingHashDuck("text")} AS fp FROM documents ORDER BY doc_id",
      // same injected PII layer, same redaction order; DuckDB needs the
      // explicit 'g' flag where Spark's regexp_replace is global by default
      "t6_pii_scrub" ->
        """SELECT doc_id,
          regexp_replace(regexp_replace(regexp_replace(
            text || ' contact user' || CAST(doc_id AS VARCHAR)
                 || '@example.com via https://ex.com/u/' || CAST(doc_id AS VARCHAR)
                 || ' ref ' || CAST(9000000000 + doc_id AS VARCHAR),
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            'https?://[^ ]+', '<URL>', 'g'),
            '[0-9]{9,}', '<ID>', 'g') AS clean
        FROM documents ORDER BY doc_id""",
      "t5_ngram_profile" ->
        """SELECT tg, COUNT(*) AS cnt FROM (
          SELECT unnest(list_transform(range(1, length(text) - 1),
                   i -> substr(lower(text), CAST(i AS INT), 3))) AS tg
          FROM documents WHERE length(text) >= 3) t
        GROUP BY tg ORDER BY cnt DESC, tg LIMIT 30""",
      // same injected decomposed layer, normalized by DuckDB's
      // utf8proc NFC — Unicode normalization stability is what makes
      // the two engines byte-identical (fp gates that, not just length)
      "t8_normalize" ->
        s"""SELECT doc_id,
          CAST(length(t) AS BIGINT) AS n_raw,
          CAST(length(nfc_normalize(t)) AS BIGINT) AS n_norm,
          CAST(length(t) - length(nfc_normalize(t)) AS BIGINT) AS n_composed,
          ${rollingHashDuck("nfc_normalize(t)")} AS fp
        FROM (SELECT doc_id,
                text || ' caf' || repeat($denormCase, CAST(1 + doc_id % 3 AS INT)) AS t
              FROM documents)
        ORDER BY doc_id""",
      // same integer counts restated over DuckDB lists (1-based):
      // mode count via unnest + two grouped aggregates, distinct
      // adjacent bigrams via list_distinct; range(1, len) is [1, len)
      // so i -> (w[i], w[i+1]) enumerates exactly the len-1 bigrams
      "t7_repetition" ->
        """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        bg AS (SELECT doc_id, CAST(length(w) AS BIGINT) AS n_tokens,
                 CAST(length(list_distinct(list_transform(range(1, length(w)),
                   i -> w[i] || ' ' || w[i + 1]))) AS BIGINT) AS n_distinct_bg
               FROM toks WHERE length(w) >= 2),
        topw AS (SELECT doc_id, MAX(c) AS top_cnt FROM (
                   SELECT doc_id, COUNT(*) AS c
                   FROM (SELECT doc_id, unnest(w) AS wd FROM toks)
                   GROUP BY doc_id, wd)
                 GROUP BY doc_id)
        SELECT doc_id, n_tokens, top_word_frac, dup_bigram_frac,
          (top_word_frac <= 0.2 AND dup_bigram_frac <= 0.2) AS keep_doc
        FROM (
          SELECT b.doc_id, b.n_tokens,
            round(t.top_cnt / CAST(b.n_tokens AS DOUBLE), 6) AS top_word_frac,
            round(1.0 - b.n_distinct_bg / CAST(b.n_tokens - 1 AS DOUBLE), 6) AS dup_bigram_frac
          FROM bg b JOIN topw t USING (doc_id))
        ORDER BY doc_id""",
    )
  }
}
