package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables
import graft.functions.TextPrimitives._

/** p1 — the end-to-end training-data pipeline the individual operators
  * exist for, composed as ONE query: exact dedup → quality scoring →
  * language ID → token counting → fingerprinting, emitting the curated
  * corpus manifest. This is the shape of a real pretraining data job;
  * every stage is a scan or one hash shuffle, so the composition
  * pipelines without materialization barriers.
  */
object PipelineQueries {

  private val qualityThreshold = "0.5"

  def p1TrainingPipeline(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents").createOrReplaceTempView("documents")
    // Each per-row kernel (split, stop_hits, the rounded score with its
    // regexp_replace pass) sits behind a one-row explode barrier:
    // plain projection aliases get substituted into the pushed-down
    // quality filter, which re-ran split 4x, stop_hits and the regex
    // pass 2x per row (Filter codegen has no cross-conjunct CSE). A
    // predicate referencing generator output stays above its Generate,
    // so each kernel now runs exactly once per surviving row — and
    // pred_lang reuses the SAME stop-hit count instead of a fresh
    // split+stop_hits pass.
    spark.sql(s"""
      WITH survivors AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
      d AS (SELECT documents.* FROM documents JOIN survivors USING (doc_id)),
      scored AS (SELECT doc_id, CAST(size(w) AS BIGINT) AS n_tokens, sh, text, score
        FROM d
        LATERAL VIEW explode(array(split(text, ' '))) tw AS w
        LATERAL VIEW explode(array(${stopHitsSpark("w", stopwords("en"))})) ts AS sh
        LATERAL VIEW explode(array(
          round(0.5 * CAST(sh AS DOUBLE) / size(w)
              + 0.3 * least(1.0, size(w) / 100.0)
              + 0.2 * (1.0 - CAST(char_length(regexp_replace(text, '[A-Za-z0-9 ]', '')) AS DOUBLE)
                             / CAST(n_chars AS DOUBLE)), 6))) tsc AS score
        WHERE size(w) > 0)
      SELECT doc_id, n_tokens, score,
        CASE WHEN sh > 0 THEN 'en' ELSE 'unknown' END AS pred_lang,
        ${rollingHashSpark("text")} AS fp
      FROM scored
      WHERE score >= $qualityThreshold
      ORDER BY doc_id""")
  }

  /** p3 — the CURATION pipeline, composed as ONE query over the round-5
    * primitives: exact-dedup survivors → repetition quality gate (t7's
    * rounded thresholds) → benchmark decontamination (drop any doc
    * sharing a word-3-gram with the l9 eval split, plus the eval split
    * itself) → sequence packing (l7's shard + greedy pack bookkeeping)
    * — emitting the (shard, pack, doc) manifest a trainer consumes.
    * Every stage is a scan or a hash shuffle on an 8-byte key; the
    * text column is read once and never shuffles: dedup moves (hash,
    * id), the repetition gate is the fused `repeat_stats` scan,
    * contamination moves (id, 8-byte shingle hash) against a BROADCAST
    * eval-hash set, and the ANTI joins that apply the drop decisions
    * carry ids only. The packing window is partition-local per shard —
    * no global sort. At 100 TB this composition pipelines with no
    * materialization barrier wider than its ids. */
  /** p4 — the corpus RELEASE report, composing the round-6 operators
    * as ONE query: exact-dedup survivors ∧ t7's repetition gate ∧
    * l16's curriculum sample (tertile strata from the score histogram,
    * per-stratum keep rates), rolled up per (source, stratum) into the
    * doc/token counts a release manifest publishes — "what will this
    * training mix actually contain". Composition keeps every stage's
    * posture: dedup moves (hash, id); the repetition gate is the fused
    * `repeat_stats` scan; the stratum cutoffs live in a broadcast
    * 1-row frame; the three keep decisions meet in id-only equi joins;
    * and only the final rollup (sources × 3 strata) aggregates — the
    * report is the biggest thing built after the scans. */
  def p4CorpusRelease(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(s"""
      WITH ${LlmQueries.curriculumCtes(sparkDialect = true)},
      survivors AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
      rep AS (SELECT doc_id FROM (
                -- explode-barrier: a plain `split AS w` / `repeat_stats AS rs`
                -- alias gets substituted into this pushed-down gate, re-running
                -- repeat_stats 2x and split 5x per row (no cross-conjunct CSE
                -- in Filter codegen); predicates on generator output stay
                -- above the Generate, so each kernel runs once per row
                SELECT doc_id, CAST(size(w) AS BIGINT) AS n_tokens, rs
                FROM documents
                LATERAL VIEW explode(array(split(text, ' '))) tw AS w
                LATERAL VIEW explode(array(repeat_stats(w))) tr AS rs)
              WHERE n_tokens >= 2
                AND round(rs[0] / CAST(n_tokens AS DOUBLE), 6) <= 0.2
                AND round(1.0 - rs[1] / CAST(n_tokens - 1 AS DOUBLE), 6) <= 0.2),
      rel AS (SELECT s.doc_id, s.stratum FROM sampled s
              JOIN survivors USING (doc_id) JOIN rep USING (doc_id))
      SELECT d.source, r.stratum, COUNT(*) AS n_docs,
             SUM(CAST(size(split(d.text, ' ')) AS BIGINT)) AS n_tokens
      FROM rel r JOIN documents d ON d.doc_id = r.doc_id
      GROUP BY d.source, r.stratum
      ORDER BY d.source, r.stratum""")
  }

  def p3CurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(s"""
      WITH survivors AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
      d AS (SELECT documents.* FROM documents JOIN survivors USING (doc_id)),
      -- explode-barrier on the tokenization (and on repeat_stats below):
      -- a plain `split AS w` alias gets substituted into every consumer's
      -- pushed-down gate (`size(w) >= 3`, the repetition thresholds),
      -- re-running split up to 5x and repeat_stats 2x per row (Filter
      -- codegen has no cross-conjunct CSE); predicates on generator
      -- output stay above the Generate, so each kernel runs once per
      -- row per consumer
      toks AS (SELECT doc_id, w FROM d
               LATERAL VIEW explode(array(split(text, ' '))) tw AS w),
      rep AS (SELECT doc_id, n_tokens FROM (
                SELECT doc_id, CAST(size(w) AS BIGINT) AS n_tokens, rs
                FROM toks
                LATERAL VIEW explode(array(repeat_stats(w))) tr AS rs)
              WHERE n_tokens >= 2
                AND round(rs[0] / CAST(n_tokens AS DOUBLE), 6) <= 0.2
                AND round(1.0 - rs[1] / CAST(n_tokens - 1 AS DOUBLE), 6) <= 0.2),
      eval_g AS (SELECT DISTINCT explode(shingle_hashes(w)) AS g FROM toks
                 WHERE size(w) >= 3 AND doc_id % 97 = 0),
      contaminated AS (SELECT /*+ BROADCAST(e) */ DISTINCT c.doc_id
                       FROM (SELECT doc_id, explode(shingle_hashes(w)) AS g FROM toks
                             WHERE size(w) >= 3 AND doc_id % 97 <> 0) c
                       JOIN eval_g e ON c.g = e.g),
      clean AS (SELECT r.doc_id, r.n_tokens FROM rep r
                ANTI JOIN contaminated c ON r.doc_id = c.doc_id
                WHERE r.doc_id % 97 <> 0)
      SELECT shard, doc_id, n_tokens,
        CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             DIV 2048 AS BIGINT) AS pack_id
      FROM (SELECT doc_id, n_tokens,
              CAST(${FunctionQueries.kmvHashSpark("doc_id")} % 8 AS BIGINT) AS shard
            FROM clean)
      ORDER BY shard, doc_id""")
  }

  /** p5 — the PACK REFRESH pipeline, composing the round-8 operators
    * as one job: normalized-exact dedup (d15's NFC→lower→collapse key
    * — the cheap gate real pipelines run first) → quality scoring
    * (the SHARED t2 CTE) → per-domain cap (l17's top-15-per-source
    * rule through TopKPerKey) → subword-budget packing (l18's
    * bookkeeping over t10's tokenizer-accurate counts) — emitting the
    * (shard, pack, doc) manifest with real context-window budgets.
    * "What a weekly corpus refresh actually ships."
    *
    * Composition keeps every stage's posture: dedup moves an 8-byte
    * normalized-text hash + id; the score and the subword count are
    * fused per-row kernels in ONE scan; the cap's heap collapses
    * map-side before its only exchange (never a corpus window); the
    * packing window is partition-local per hash shard. The wide text
    * column is read once and never shuffles — every join in the
    * composition carries ids. */
  def p5RefreshPacks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    Tables.load(spark, dir, "documents").createOrReplaceTempView("documents")
    val scored = spark.sql(s"""
      WITH survivors AS (SELECT MIN(doc_id) AS doc_id FROM (
            SELECT doc_id,
              poly_hash(trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' '))) AS k
            FROM documents) GROUP BY k),
      ${TextQueries.qualityCteSpark}
      SELECT s.doc_id, s.source, s.score FROM scored s JOIN survivors USING (doc_id)""")
    graft.plans.TopK.perKey(scored, Seq(col("source")),
      Seq(col("score").desc, col("doc_id")), k = 15)
      .select(col("doc_id"))
      .createOrReplaceTempView("p5_kept")
    spark.sql(s"""
      SELECT shard, doc_id, n_tokens,
        CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             DIV 2048 AS BIGINT) AS pack_id
      FROM (SELECT d.doc_id,
              subword_count(lower(d.text)) AS n_tokens,
              CAST(${FunctionQueries.kmvHashSpark("d.doc_id")} % 8 AS BIGINT) AS shard
            FROM documents d JOIN p5_kept USING (doc_id))
      ORDER BY shard, doc_id""")
  }

  /** p6 — the INDEX BUILD pipeline: the job that produces the
    * artifacts the retrieval queries SERVE from — s13/s14 score
    * against corpus stats and an inverted index; s2–s9 probe an IVF
    * layout; this is the batch job that builds both. One manifest in
    * one scalar shape (kind, key, n1, n2):
    *
    *  - `term` rows — the postings skeleton: document frequency +
    *    collection frequency for the top-20 terms by df (the head of
    *    the inverted index; the full index is the same aggregate
    *    without the cut);
    *  - `cluster` rows — vectors per IVF cell under the shared coarse
    *    quantizer (s4's centroids + min_by argmin assignment): the
    *    cell-size table an ANN planner uses to pick nprobe;
    *  - `corpus` rows — N and Σdl, BM25's length-normalization pair.
    *
    * Scale shape: term stats are two keyed aggregates over (id, term)
    * pairs (text never shuffles); the assignment is the broadcast-
    * centroid map + partial+final argmin aggregate s4 pins (no
    * window); the manifest rows are trivially small. At 100 TB this
    * is one corpus scan + one embedding scan — the index build IS the
    * bottleneck-shaped job the posture arguments exist for. */
  def p6HybridIndex(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = Tables.loadSpread(spark, dir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val topTerms = tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"))
      .orderBy(col("df").desc, col("term")).limit(20)
      .select(lit("term").as("kind"), col("term").as("key"),
        col("df").as("n1"), col("cf").as("n2"))
    val e = Tables.load(spark, dir, "embeddings")
    // the manifest describes the SHIPPED index: cell sizes under the
    // trained quantizer s4/s15 actually serve from (round-9; the
    // label-seed cells were the unfitted config s15 flagged)
    val cent = AnnQueries.centroidSeq(spark, dir)
    val clusters = AnnQueries
      .assignCells(e.select(col("vec_id"), col("embedding")), cent)
      .groupBy("clabel").agg(count(lit(1)).as("n1"))
      .select(lit("cluster").as("kind"), col("clabel").cast("string").as("key"),
        col("n1"), lit(0L).as("n2"))
    val corpus = docs
      .select(size(split(col("text"), " ")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n1"), sum("dl").as("n2"))
      .select(lit("corpus").as("kind"), lit("all").as("key"), col("n1"), col("n2"))
    topTerms.unionByName(clusters).unionByName(corpus)
      .orderBy("kind", "key")
  }

  /** p7 — the TOKENIZER RELEASE pipeline: l19's train → l22's apply →
    * l18's packing bookkeeping composed as ONE shipped job — the
    * (shard, doc, trained-token count, pack) manifest a trainer
    * actually consumes, budgeted in the tokens of the tokenizer the
    * job itself just trained (l18 budgets in the heuristic subword
    * count; a release job must budget in the REAL vocabulary or its
    * packs overflow the context window at tokenize time). This is the
    * reference's pipeline-composition shape (rainstorm/rainstorm.go:
    * 104-144, the 3-stage compose) applied to the tokenizer stack.
    *
    * Scale shape, stage by stage: training is the memoized l19 loop —
    * one vocab-table artifact per (session, dir), 8 broadcast rows
    * (so a release job that also runs l19/l22 pays training ONCE);
    * apply is the fused BpeApplyCount kernel inside the scan (text
    * never shuffles); packing is l18's per-hash-shard window — shards
    * are independent, no global sort anywhere. The oracle composes
    * the SAME shared texts: the l19 twin's m0–m7 chain, the l22
    * twin's apply-count select, the l18 twin's window arithmetic. */
  def p7TokenizerRelease(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val merges = LlmQueries.learnedMerges(spark, dir).map { case (_, l, r, _) => (l, r) }
    Tables.loadSpread(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.BpeApplyCount(col("text"), merges).as("n_trained_tokens"))
      .selectExpr("doc_id", "n_trained_tokens",
        LlmQueries.shardSpark("doc_id"))
      .selectExpr("shard", "doc_id", "n_trained_tokens",
        LlmQueries.packIdSpark("n_trained_tokens"))
      .orderBy("shard", "doc_id")
  }

  /** p8 — INCREMENTAL INDEX REFRESH: maintain p6's hybrid-index
    * manifest by encoding ONLY a delta and MERGING it with the base
    * partition's aggregates — the nightly job that keeps a retrieval
    * index fresh without re-scanning the corpus (x72's mergeable-
    * algebra discipline applied to the index artifact). The corpus
    * splits on doc_id/vec_id mod 5 (the "yesterday's index" base vs
    * "today's crawl" delta); each side computes FULL term-level
    * (df, cf) aggregates, per-cell counts under the SHARED trained
    * quantizer (a refresh assigns new vectors to the EXISTING
    * quantizer — it never retrains), and corpus norms; the merge is
    * per-key integer sums and the top-20 head is cut AFTER the merge
    * (a head cut is not mergeable; the maintained state is the full
    * term aggregate, the head is a view of it).
    *
    * The ORACLE is p6's from-scratch build verbatim: merge(agg(base),
    * agg(delta)) must equal agg(all) exactly — a wrong merge algebra
    * (head-cut before merge, df max instead of sum, a cell count
    * dropped) cannot hash-match. The base arm is a STORED manifest
    * ([[p8BaseManifest]], round 10): built once per input fingerprint
    * and read back from parquet thereafter, so per-refresh work is
    * the DELTA aggregates + a manifest-sized merge — the cost shape
    * the operator exists for (round 9 shipped both arms recomputing,
    * VERDICT r9 "what's wrong" #1). */
  def p8IndexRefresh(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = Tables.loadSpread(spark, dir, "documents")
    val deltaDocs = docs.filter(col("doc_id") % 5 === 4)
    val deltaTerms = p8TermAgg(deltaDocs)
      .select(lit("term").as("kind"), col("term").as("key"),
        col("df").as("n1"), col("cf").as("n2"))
    val e = Tables.load(spark, dir, "embeddings")
    // a refresh assigns the delta to the EXISTING quantizer — the
    // session-memoized trained centroids; it never retrains
    val cent = AnnQueries.centroidSeq(spark, dir)
    val deltaCells = AnnQueries.assignCells(
        e.filter(col("vec_id") % 5 === 4).select(col("vec_id"), col("embedding")), cent)
      .groupBy("clabel").agg(count(lit(1)).as("n1"))
      .select(lit("cluster").as("kind"), col("clabel").cast("string").as("key"),
        col("n1"), lit(0L).as("n2"))
    val deltaCorpus = deltaDocs
      .select(size(split(col("text"), " ")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n1"), sum("dl").as("n2"))
      .select(lit("corpus").as("kind"), lit("all").as("key"), col("n1"), col("n2"))
    // per-key integer sums over (stored base ∪ delta) — the mergeable
    // algebra; the head cut runs AFTER the merge (a head cut is not
    // mergeable: the maintained state is the FULL term aggregate, the
    // top-20 is a view of it)
    val merged = p8BaseManifest(spark, dir)
      .unionByName(deltaTerms.unionByName(deltaCells).unionByName(deltaCorpus))
      .groupBy("kind", "key").agg(sum("n1").as("n1"), sum("n2").as("n2"))
    val topTerms = merged.filter(col("kind") === "term")
      .orderBy(col("n1").desc, col("key")).limit(20)
    merged.filter(col("kind") =!= "term")
      .unionByName(topTerms)
      .orderBy("kind", "key")
  }

  /** The full (doc, term) → (df, cf) aggregate — p8's term algebra,
    * shared by the base build and the delta arm so the two sides
    * cannot diverge. */
  private def p8TermAgg(side: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    side.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .groupBy("term").agg(count(lit(1)).as("df"), sum("tf").as("cf"))
  }

  /** Build counter, exposed for the lifecycle spec: asserts the base
    * manifest is BUILT once and READ thereafter. */
  private[graft] val p8BaseBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  /** p8's maintained BASE-side artifact: the FULL (kind, key, n1, n2)
    * aggregates of the base partition (doc_id/vec_id % 5 ≠ 4) — term
    * (df, cf) without the head cut, per-cell counts under the shared
    * trained quantizer, corpus (N, Σdl) — STORED as parquet under
    * `spark.graft.artifacts.dir` (default `target/graft_artifacts`),
    * keyed by a fingerprint of the input files (path + per-part-file
    * size + mtime, so a regenerated corpus gets a fresh build) plus a
    * format version. This is the production shape the query's own doc
    * promised ("at 100 TB the base arm is a STORED manifest"): the
    * nightly refresh reads yesterday's manifest — a vocabulary-sized
    * table — and pays only the delta aggregates; the 80 % base corpus
    * is never rescanned. Every cell is an exact integer or a string,
    * so the parquet roundtrip is bit-exact and the p6-verbatim oracle
    * still gates the merge end-to-end. The build is eager on a miss
    * (one base scan + the write — the cold cost lands on the first
    * refresh after an index rebuild, auditable in Bench's
    * queries_cold). Round 11: keyed through the shared
    * [[graft.core.ArtifactStore]], with the quantizer configuration
    * folded into the fingerprint (ADVICE r10: the stored manifest
    * embeds trained-quantizer cell counts, so a changed quantizer knob
    * must change the KEY — the `v1` tag alone relied on a hand bump). */
  private def p8BaseManifest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // trained quantizer materialized BEFORE the store's build lock —
    // the trainLock-before-buildLock order (ADVICE r11: a thunk-internal
    // trainedCentroids call inverts the order kmeansState establishes
    // and can deadlock two concurrent cold callers)
    val cent = AnnQueries.centroidSeq(spark, dir)
    val fp = graft.core.ArtifactStore.fingerprint(dir,
      Seq("documents.parquet", "embeddings.parquet"),
      Seq("manifest=v1", AnnQueries.quantizerParams))
    graft.core.ArtifactStore.getOrBuild(spark, "p8_base_v1", fp, dir, p8BaseBuilds) { _ =>
      val docs = Tables.loadSpread(spark, dir, "documents")
        .filter(col("doc_id") % 5 =!= 4)
      val terms = p8TermAgg(docs)
        .select(lit("term").as("kind"), col("term").as("key"),
          col("df").as("n1"), col("cf").as("n2"))
      val e = Tables.load(spark, dir, "embeddings")
      val cells = AnnQueries.assignCells(
          e.filter(col("vec_id") % 5 =!= 4).select(col("vec_id"), col("embedding")), cent)
        .groupBy("clabel").agg(count(lit(1)).as("n1"))
        .select(lit("cluster").as("kind"), col("clabel").cast("string").as("key"),
          col("n1"), lit(0L).as("n2"))
      val corpus = docs
        .select(size(split(col("text"), " ")).cast("long").as("dl"))
        .agg(count(lit(1)).as("n1"), sum("dl").as("n2"))
        .select(lit("corpus").as("kind"), lit("all").as("key"), col("n1"), col("n2"))
      terms.unionByName(cells).unionByName(corpus).coalesce(1)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p6_hybrid_index" -> (p6HybridIndex _),
    "p8_index_refresh" -> (p8IndexRefresh _),
    "p7_tokenizer_release" -> (p7TokenizerRelease _),
    "p1_training_pipeline" -> (p1TrainingPipeline _),
    "p3_curation_pipeline" -> (p3CurationPipeline _),
    "p4_corpus_release" -> (p4CorpusRelease _),
    "p5_refresh_packs" -> (p5RefreshPacks _),
  )

  /** The from-scratch hybrid-index build SQL — p6's twin, and BY
    * DESIGN also p8's (the incremental refresh must reproduce it). */
  private def p6FromScratchDuck: String = {
    val w = "string_split(text, ' ')"
    s"""WITH ${AnnQueries.trainedCentCtesDuck},
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM (
                SELECT doc_id, unnest($w) AS term FROM documents) t
               WHERE term <> '' GROUP BY doc_id, term),
        topt AS (SELECT 'term' AS kind, term AS key,
                   CAST(COUNT(*) AS BIGINT) AS n1, CAST(SUM(tf) AS BIGINT) AS n2
                 FROM tf GROUP BY term ORDER BY n1 DESC, term LIMIT 20),
        asg AS (SELECT vec_id, clabel FROM (
                 SELECT e.vec_id, c.label AS clabel,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY ${AnnQueries.l2sqDuck("c.centroid", "e.embedding")}, c.label) AS rn
                 FROM embeddings e, tcent c) WHERE rn = 1),
        cl AS (SELECT 'cluster' AS kind, CAST(clabel AS VARCHAR) AS key,
                 CAST(COUNT(*) AS BIGINT) AS n1, CAST(0 AS BIGINT) AS n2
               FROM asg GROUP BY clabel),
        co AS (SELECT 'corpus' AS kind, 'all' AS key, CAST(COUNT(*) AS BIGINT) AS n1,
                 CAST(SUM(length($w)) AS BIGINT) AS n2 FROM documents)
        SELECT * FROM (SELECT * FROM topt UNION ALL SELECT * FROM cl
                       UNION ALL SELECT * FROM co)
        ORDER BY kind, key"""
  }

  val oracleSql: Map[String, String] = {
    val w = "string_split(text, ' ')"
    Map(
      // p7: the l19 twin's MATERIALIZED training chain + the l22
      // twin's apply-count select + the l18 twin's pack window — each
      // stage's shared text composed verbatim, so the released
      // manifest is definitionally the three stages' agreement
      "p7_tokenizer_release" ->
        s"""WITH ${LlmQueries.bpeCtesDuck},
        counts AS (${LlmQueries.bpeApplyCountsSelect}),
        t AS (SELECT doc_id, n_trained_tokens, ${LlmQueries.shardDuck("doc_id")}
              FROM counts)
        SELECT shard, doc_id, n_trained_tokens, ${LlmQueries.packIdDuck("n_trained_tokens")}
        FROM t ORDER BY shard, doc_id""",
      // p6: the shared centroid CTEs + the s11 row_number assignment
      // spelling for the cluster rows; term/corpus rows are plain
      // integer aggregates — every output cell is exact.
      // p8 deliberately shares this EXACT text: the refresh's
      // merge(agg(base), agg(delta)) must equal the from-scratch
      // build, so its oracle IS the from-scratch build
      "p6_hybrid_index" -> p6FromScratchDuck,
      "p8_index_refresh" -> p6FromScratchDuck,
      "p1_training_pipeline" ->
        s"""WITH survivors AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
        d AS (SELECT documents.* FROM documents JOIN survivors USING (doc_id)),
        scored AS (SELECT doc_id, lang, text, n_chars,
            CAST(length($w) AS BIGINT) AS n_tokens,
            round(0.5 * CAST(${stopHitsDuck(w, stopwords("en"))} AS DOUBLE) / length($w)
                + 0.3 * least(1.0, length($w) / 100.0)
                + 0.2 * (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
                               / CAST(n_chars AS DOUBLE)), 6) AS score
          FROM d WHERE length($w) > 0)
        SELECT doc_id, n_tokens, score,
          CASE WHEN ${stopHitsDuck(w, stopwords("en"))} > 0
               THEN 'en' ELSE 'unknown' END AS pred_lang,
          ${rollingHashDuck("text")} AS fp
        FROM scored
        WHERE score >= $qualityThreshold
        ORDER BY doc_id""",
      // the same three keep decisions restated: l16's shared duck CTEs,
      // t7's counts over DuckDB lists, dedup by text; final sums CAST
      // from HUGEINT
      "p4_corpus_release" ->
        s"""WITH ${LlmQueries.curriculumCtes(sparkDialect = false)},
        survivors AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
        toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        bg AS (SELECT doc_id, CAST(length(w) AS BIGINT) AS n_tokens,
                 CAST(length(list_distinct(list_transform(range(1, length(w)),
                   i -> w[i] || ' ' || w[i + 1]))) AS BIGINT) AS n_distinct_bg
               FROM toks WHERE length(w) >= 2),
        topw AS (SELECT doc_id, MAX(c) AS top_cnt FROM (
                   SELECT doc_id, COUNT(*) AS c
                   FROM (SELECT doc_id, unnest(w) AS wd FROM toks)
                   GROUP BY doc_id, wd)
                 GROUP BY doc_id),
        rep AS (SELECT b.doc_id FROM bg b JOIN topw t USING (doc_id)
                WHERE round(t.top_cnt / CAST(b.n_tokens AS DOUBLE), 6) <= 0.2
                  AND round(1.0 - b.n_distinct_bg / CAST(b.n_tokens - 1 AS DOUBLE), 6) <= 0.2),
        rel AS (SELECT s.doc_id, s.stratum FROM sampled s
                JOIN survivors USING (doc_id) JOIN rep USING (doc_id))
        SELECT d.source, r.stratum, COUNT(*) AS n_docs,
               CAST(SUM(CAST(length(string_split(d.text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens
        FROM rel r JOIN documents d ON d.doc_id = r.doc_id
        GROUP BY d.source, r.stratum
        ORDER BY d.source, r.stratum""",
      // stage-by-stage mirror: t7's counts over DuckDB lists, l9's
      // shingle+rolling-hash spelling, l7's window-sum packing; // is
      // DuckDB integer division and the CASTs collapse its HUGEINT
      // aggregates to Spark's BIGINT
      "p3_curation_pipeline" ->
        s"""WITH survivors AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
        d AS (SELECT documents.* FROM documents JOIN survivors USING (doc_id)),
        toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
        bg AS (SELECT doc_id, CAST(length(w) AS BIGINT) AS n_tokens,
                 CAST(length(list_distinct(list_transform(range(1, length(w)),
                   i -> w[i] || ' ' || w[i + 1]))) AS BIGINT) AS n_distinct_bg
               FROM toks WHERE length(w) >= 2),
        topw AS (SELECT doc_id, MAX(c) AS top_cnt FROM (
                   SELECT doc_id, COUNT(*) AS c
                   FROM (SELECT doc_id, unnest(w) AS wd FROM toks)
                   GROUP BY doc_id, wd)
                 GROUP BY doc_id),
        rep AS (SELECT b.doc_id, b.n_tokens FROM bg b JOIN topw t USING (doc_id)
                WHERE round(t.top_cnt / CAST(b.n_tokens AS DOUBLE), 6) <= 0.2
                  AND round(1.0 - b.n_distinct_bg / CAST(b.n_tokens - 1 AS DOUBLE), 6) <= 0.2),
        sh AS (SELECT doc_id, ${graft.functions.TextPrimitives.shinglesDuck("w")} AS s
               FROM toks WHERE length(w) >= 3),
        ids AS (SELECT doc_id, list_distinct(list_transform(s,
                  g -> ${graft.functions.TextPrimitives.rollingHashDuck("g")})) AS ids FROM sh),
        eval_g AS (SELECT DISTINCT unnest(ids) AS g FROM ids WHERE doc_id % 97 = 0),
        contaminated AS (SELECT DISTINCT c.doc_id
                         FROM (SELECT doc_id, unnest(ids) AS g FROM ids
                               WHERE doc_id % 97 <> 0) c
                         JOIN eval_g e ON c.g = e.g),
        clean AS (SELECT r.doc_id, r.n_tokens FROM rep r
                  ANTI JOIN contaminated c ON r.doc_id = c.doc_id
                  WHERE r.doc_id % 97 <> 0)
        SELECT shard, doc_id, n_tokens,
          CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS BIGINT) AS pack_id
        FROM (SELECT doc_id, n_tokens,
                CAST((${FunctionQueries.kmvHashDuck("doc_id")}) % 8 AS BIGINT) AS shard
              FROM clean)
        ORDER BY shard, doc_id""",
      // every round-8 stage restated from its own oracle spelling:
      // d15's normalized key, the shared t2 score CTE, l17's
      // row_number cap, t10's recursive subword-count chain, l7/l18's
      // pack window arithmetic
      "p5_refresh_packs" ->
        (s"""WITH RECURSIVE ${TextQueries.subwordCtesDuck},
        survivors AS (SELECT MIN(doc_id) AS doc_id FROM (
              SELECT doc_id,
                ${rollingHashDuck("trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g'))")} AS k
              FROM documents) GROUP BY k),
        ${TextQueries.qualityCteDuck},
        ranked AS (SELECT s.doc_id, s.source, s.score,
            ROW_NUMBER() OVER (PARTITION BY s.source
              ORDER BY s.score DESC, s.doc_id) AS rn
          FROM scored s JOIN survivors USING (doc_id)),
        kept AS (SELECT doc_id FROM ranked WHERE rn <= 15),
        t AS (SELECT w.doc_id, w.n_subword AS n_tokens,
            CAST((${FunctionQueries.kmvHashDuck("w.doc_id")}) % 8 AS BIGINT) AS shard
          FROM swc w JOIN kept USING (doc_id))
        SELECT shard, doc_id, n_tokens,
          CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS BIGINT) AS pack_id
        FROM t ORDER BY shard, doc_id"""),
    )
  }
}
