package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables
import graft.functions.TextPrimitives._

/** Near-duplicate detection suite for the training-data pipeline:
  *
  *  - d3 exact n-gram jaccard — the ground truth, quadratic in docs:
  *    right at test scale, wrong at 100 TB;
  *  - d1 MinHash+LSH — the 100 TB path: shingle → 16 minhashes →
  *    8 bands × 2 rows → shuffle on band key → verify only candidate
  *    pairs. Cost is O(n·shingles) + O(candidate pairs), never O(n²);
  *  - d2 SimHash — 30-bit fingerprint per doc + small-hamming pair
  *    scan; fingerprinting is a scan, pairing here is brute force (the
  *    scale path would block on fingerprint prefixes).
  *
  * Everything is deterministic (fixed permutation constants, rolling
  * hash) and reproduced verbatim in the DuckDB oracle from the same
  * constants — so even the LSH candidate-generation step is
  * hash-checkable, not just "rows > 0".
  */
object DedupQueries {

  private val jacThreshold = "0.5"
  private val hamThreshold = 4

  // materialize-once handles for the shingle-id table's SQL-WITH
  // consumers (see [[Materialize]]; the superseded invocation's blocks
  // are released on re-invoke)
  private val d6IdsHandle = Materialize.handle()
  private val d13IdsHandle = Materialize.handle()

  // --- shared Spark SQL fragments -----------------------------------------

  /** doc_id + distinct 3-gram shingle array (docs with >=3 tokens). */
  private val shingleCteSpark: String =
    s"""toks AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
        sh AS (SELECT doc_id, ${shinglesSpark("w")} AS s FROM toks WHERE size(w) >= 3)"""

  /** doc_id + distinct rolling-hashed shingle ids, via the fused
    * codegen shingle_hashes (≡ array_distinct(transform(shingles,
    * poly_hash)) — equivalence pinned in ExpressionsSpec). */
  private val idsCteSpark: String =
    s"""toks AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
        ids AS (SELECT doc_id, shingle_hashes(w) AS ids FROM toks WHERE size(w) >= 3)"""

  private def jacSpark(a: String, b: String): String =
    s"CAST(size(array_intersect($a, $b)) AS DOUBLE) / size(array_union($a, $b))"

  /** The 8 × 2-row LSH band structs over a `mh` minhash array — shared
    * by d1 (intra-corpus pair mining) and d6 (incremental ingest). */
  private val bandStructsSpark: String = (0 until 8).map(k =>
    s"named_struct('bi', $k, 'bk', concat(CAST(mh[${2 * k}] AS STRING), '_', CAST(mh[${2 * k + 1}] AS STRING)))")
    .mkString(", ")

  // --- shared DuckDB fragments --------------------------------------------

  private val shingleCteDuck: String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        sh AS (SELECT doc_id, ${shinglesDuck("w")} AS s FROM toks WHERE length(w) >= 3)"""

  private val idsCteDuck: String =
    s"""ids AS (SELECT doc_id, list_distinct(list_transform(s, g -> ${rollingHashDuck("g")})) AS ids FROM sh)"""

  private def jacDuck(a: String, b: String): String =
    s"CAST(length(list_intersect($a, $b)) AS DOUBLE) / length(list_distinct(list_concat($a, $b)))"

  // --- d3: exact n-gram jaccard ------------------------------------------

  /** Exact jaccard WITHOUT the quadratic nested-loop + per-pair
    * array_intersect: explode HASHED shingles (8-byte keys instead of
    * ~20-byte strings — smaller shuffle, cheaper compares), equi-join on
    * the hash, count common shingles per pair, then
    * jac = c / (|A| + |B| - c). Pairs sharing zero shingles can never
    * reach the threshold, so the equi-join's implicit pruning is
    * semantics-preserving — and at scale the cost follows the actual
    * shingle-overlap distribution instead of n². Jaccard is DEFINED over
    * the hashed shingle sets (as is d1's verify step, via the same ids),
    * so the oracle — which uses the identical hash — agrees even in the
    * astronomically-unlikely collision case. */
  def d3NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // Round 18: read the d-family's PERSISTED ids view instead of
    // re-deriving the shingle CTE. Two measured wins: the shingle
    // kernel runs once per session instead of once per CTE reference,
    // and the filters Catalyst infers from the explode and the join
    // (`size(ids) > 0`, `isnotnull(ids)`) now stop AT the cache scan —
    // with the inline CTE, filter pushdown substituted the kernel into
    // them below the scan exchange, evaluating shingle_hashes THREE
    // times per document in the single pre-exchange task
    // (plans/r18/d3_ngram_jaccard_before.txt, Filter conditions).
    registerIds(spark, dir)
    // the cache is deliberately 1-partition (see registerIds); the
    // explode + pair-join map side are compute-dense, so spread the
    // cache READ to session width (exchange carries the cached arrays
    // once — at scale the cache has native width and this is a no-op).
    // INLINE SUBQUERIES, not CTEs: Spark 4.1's cache substitution does
    // not reach view reads inside a WithCTE (measured: the same query
    // spelled WITH ... re-derives the shingle kernel per CTE reference
    // and Catalyst's inferred explode/join filters then substitute the
    // kernel below the scan exchange — 3 evaluations per document in
    // one task; plans/r18/d3_ngram_jaccard_before.txt).
    Tables.spread(spark, spark.table("ids")).createOrReplaceTempView("ids_spread")
    spark.sql(s"""
      SELECT i AS doc_id_a, j AS doc_id_b,
             CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) AS jac
      FROM (SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
            FROM (SELECT doc_id, explode(ids) AS g FROM ids_spread) a
            JOIN (SELECT doc_id, explode(ids) AS g FROM ids_spread) b
              ON a.g = b.g AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id) common
      JOIN (SELECT doc_id, size(ids) AS sz FROM ids) sa ON sa.doc_id = i
      JOIN (SELECT doc_id, size(ids) AS sz FROM ids) sb ON sb.doc_id = j
      WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= $jacThreshold
      ORDER BY doc_id_a, doc_id_b""")
  }

  // --- d1: MinHash + LSH ---------------------------------------------------

  /** The shingle-id table is persisted before the pipeline: the LSH
    * plan references it four times (minhash side, both verify sides),
    * and CTE inlining would recompute the shingling each time. At
    * cluster scale the same persist (MEMORY_AND_DISK) is how a dedup
    * job amortizes the tokenize+hash pass across band generation and
    * verification. Spark's cache manager dedups by canonicalized plan,
    * so repeated calls reuse one materialization. */
  def d1MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    resemblancePairs(spark, dir).orderBy("doc_id_a", "doc_id_b")

  /** Build counter for the stored resemblance-pair manifest — the
    * lifecycle spec pins mined-once-per-fingerprint/read-thereafter. */
  private[graft] val d1PairBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  /** d1's VERIFIED resemblance pairs (doc_id_a, doc_id_b, jac ≥ 0.5).
    * Round 11: a fingerprint-keyed STORED parquet artifact through
    * [[graft.core.ArtifactStore]] — the pair set is consumed by five
    * queries (d1 itself, d4/d5/d7's clustering, d14's merged
    * clustering, d16's calibration), and the round-7 session persist
    * still re-paid the band join + verify once per JVM, billed to
    * whichever d key ran first (VERDICT r10 "what's wrong" #3). At
    * cluster scale this is the "mine once, consume many" discipline a
    * dedup pipeline runs anyway — the pair manifest is a tiny (ids +
    * score) table, now literally a maintained artifact a consumer
    * READS. Every cell is an exact integer or an IEEE double, so the
    * parquet roundtrip is bit-identical to the freshly mined set; the
    * fingerprint folds in the banding config and threshold, so a knob
    * change re-keys the artifact. The `ids` view registration stays
    * session-side (lazy): d16's signature table reads it directly. */
  private[queries] def resemblancePairs(spark: SparkSession, dir: String): DataFrame = {
    registerIds(spark, dir)
    val fp = graft.core.ArtifactStore.fingerprint(dir, Seq("documents.parquet"),
      Seq(s"d1pairs=v1:minhash16:bands=8x2:thr=$jacThreshold"))
    graft.core.ArtifactStore.getOrBuild(spark, "d1_pairs_v1", fp, dir, d1PairBuilds) { _ =>
      resemblancePairsPlan(spark, dir)
    }
  }

  /** Registers the `documents` view and the PERSISTED shingle-id
    * `ids` view (lazy — one shingle pass when first consumed). The
    * band/prefix joins reference ids four times; d16's signature
    * table reads it directly, so registration stays session-side even
    * when the pair manifests themselves are stored-artifact reads. */
  private[queries] def registerIds(spark: SparkSession, dir: String): Unit = {
    // deliberately NOT loadSpread: the ids table is persisted right
    // after the shingle kernel, and measured at sf0.1 the extra
    // round-robin shuffle + 32-partition cache materialization costs
    // more (~1 s) than the single-task kernel it parallelizes (~0.5 s);
    // d2/d3 (no persist barrier) do spread
    Tables.load(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(s"WITH $idsCteSpark SELECT * FROM ids")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .createOrReplaceTempView("ids")
  }

  /** The CTE-chained band-join construction — the stored artifact's
    * BUILD body, and (unchanged) the plan shape the fresh-JVM CTE
    * canary reproduces the Spark 4.1.2 pushdown defect on
    * (CteWorkaroundCanarySpec; the artifact READ carries no CTE chain,
    * so the canary must target this plan, not [[resemblancePairs]]). */
  private[graft] def resemblancePairsPlan(spark: SparkSession, dir: String): DataFrame = {
    registerIds(spark, dir)
    spark.sql(s"""
      WITH mh AS (SELECT doc_id, minhash16(ids) AS mh FROM ids),
      eb AS (SELECT doc_id, band.bi AS bi, band.bk AS bk
             FROM mh LATERAL VIEW explode(array($bandStructsSpark)) AS band),
      cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
               FROM eb a JOIN eb b ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id),
      ver AS (SELECT c.i AS doc_id_a, c.j AS doc_id_b,
                     ${jacSpark("ia.ids", "ib.ids")} AS jac
              FROM cand c JOIN ids ia ON ia.doc_id = c.i JOIN ids ib ON ib.doc_id = c.j)
      SELECT doc_id_a, doc_id_b, jac FROM ver WHERE jac >= $jacThreshold""")
  }

  /** d13 — CONTAINMENT dedup (Broder's resemblance vs containment
    * split): score = |A∩B| / min(|A|, |B|) over the same distinct
    * shingle-hash sets d1 verifies Jaccard on. Jaccard misses the
    * doc-inside-doc case entirely — a page quoting a whole smaller
    * document scores |small|/|big| ≈ 0 resemblance but containment 1 —
    * and quote/aggregator/boilerplate-wrapper pages are exactly what a
    * web training corpus is full of.
    *
    * Candidate generation is a PREFIX FILTER (Chaudhuri et al. SSJoin /
    * Bayardo et al. all-pairs), not d1's minhash bands: band-collision
    * probability is a function of RESEMBLANCE, so for the motivating
    * small-inside-big pair (containment ≈ 1, Jaccard ≈ 0) the bands
    * almost never collide — the banded spelling systematically missed
    * exactly the pairs this query exists for. The prefix rule is
    * asymmetric and EXACT: if containment(A,B) ≥ t with |A| ≤ |B|,
    * then at most (1−t)·|A| of A's shingles are outside B, so ANY
    * ⌊(1−t)·|A|⌋+1 of A's shingles must include one that B contains.
    * Each doc probes the full inverted index with its ⌊0.4·sz⌋+1
    * RAREST shingles (global document frequency, ties by hash — the
    * Bayardo/SSJoin ordering), and only strictly-not-larger docs
    * probe. WHICH prefix a doc uses is correctness-free (any
    * large-enough subset works), so the ordering is purely a cost
    * knob — and it is scale-dependent, measured at two scales:
    * at sf0.1 the hash-ordered prefix (no df join, no window) was ~3×
    * cheaper end-to-end, but the third scaling decade (sf10eq, round
    * 12) showed WHY rarest-first is the literature's default — random
    * prefixes include frequent boilerplate shingles whose postings
    * manufacture ~2000 candidates per true pair (50M candidates for
    * 25.6k verified pairs at 500k docs), and the verify join, which
    * must carry both docs' shingle arrays, stops broadcasting at that
    * scale and shuffles tens of GB (measured 17× wall on 10× rows).
    * Rarest-first makes prefix postings short by construction (a
    * df=1 shingle contributes zero candidate pairs), so candidates
    * track true structure and the verify stays broadcast-sized at
    * every measured scale; its df-aggregate + per-doc window prep is
    * id-width and linear. Recall is 1 by construction either way —
    * which is why the DuckDB twin is the ALL-PAIRS ground truth, so
    * the oracle gates the candidate scheme's recall itself, not a
    * shared blind spot.
    *
    * 100 TB shape: one id-width df aggregate + one per-doc top-k
    * window over the exploded grams (both linear, both id-width),
    * candidates from one hash-keyed equi join of rare-prefix rows
    * against the exploded inverted index — never all-pairs; exact set
    * arithmetic only on candidate survivors. */
  def d13Containment(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(spark, dir).orderBy("doc_id_a", "doc_id_b")

  /** Build counter for the stored containment-pair manifest. */
  private[graft] val d13PairBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  /** d13's verified containment pairs — a fingerprint-keyed STORED
    * artifact for the same reason as [[resemblancePairs]] (round 11):
    * d14's merged clustering re-consumes them, and the prefix-filter
    * join now runs once per corpus fingerprint, not once per JVM. */
  private[queries] def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(s"WITH $idsCteSpark SELECT * FROM ids")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .createOrReplaceTempView("ids")
    // v2 (round 12): rarest-first prefixes + hash-join verify — the
    // verified pair set is IDENTICAL to v1 (recall is 1 under any
    // prefix ordering), but the build algorithm changed, so the key
    // bumps: every consumer exercises the new mining plan and
    // retention prunes the v1 artifact
    val fp = graft.core.ArtifactStore.fingerprint(dir, Seq("documents.parquet"),
      Seq("d13pairs=v2:prefix=0.4:thr=0.6"))
    val conf = d13BuildConf(spark, dir)
    graft.core.ArtifactStore.getOrBuild(spark, "d13_pairs_v1", fp, dir, d13PairBuilds,
      buildConf = conf,
      // self-calibration (VERDICT r16 #2): the mining build records
      // its own measured candidate-stream bytes next to the estimate
      // that sized it, and shouts on drift — see d13CalibrationReport
      buildMeta = Some { stages =>
        val (lines, warn) =
          d13CalibrationReport(d13CorpusBytes(dir), conf.nonEmpty, stages)
        warn.foreach(System.err.println)
        lines
      }) { s =>
      containmentPairsPlan(s, dir)
    }
  }

  /** Measured candidate-stream bytes emitted per COMPRESSED corpus
    * parquet byte: 54,931 MB from a 408 MB corpus at sf40eq (135×) and
    * 13,476 MB from 80 MB at sf10eq (168×) — the factor folds together
    * the true candidate multiplicity (~23× over the exploded grams)
    * and parquet's text compression (~6×), and it is stable across the
    * two measured decades because the candidate stream itself is
    * linear in the corpus (the prefix filter's measured property).
    * 150 splits the two observations; the width formula below only
    * needs the right ORDER of magnitude.
    *
    * PROVENANCE + SELF-CALIBRATION (round 17, VERDICT r16 #2): the
    * 135–168 band was measured on THIS synthetic corpus's shingle
    * statistics — a corpus with shorter documents or a skewed
    * vocabulary can amplify outside it, and the 4-wave cap only
    * partially protects the under-estimate side. The build now knows
    * the truth after the fact: every mining build records its actual
    * max per-stage shuffle-write bytes alongside this estimate in the
    * artifact's `_graft_meta` (`d13.candidate_bytes_actual` /
    * `_estimated` / `d13.actual_over_estimated`, via
    * [[graft.core.ArtifactStore.getOrBuild]]'s `buildMeta` hook), and
    * [[d13CalibrationReport]] emits a loud stderr warning whenever the
    * override ENGAGED and actual/estimated left [0.5×, 2×] — i.e. the
    * constant made a real sizing decision outside the band it was
    * derived from. Re-derive the constant from the recorded
    * `d13.candidate_bytes_actual` of a warned corpus. */
  private val d13CandidateBytesPerCorpusByte = 150L

  /** Total on-disk bytes of the corpus parquet (compressed) — input
    * to both the width estimate and the calibration record. */
  private[graft] def d13CorpusBytes(dir: String): Long = {
    def sz(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(sz).sum
      else f.length
    sz(new java.io.File(dir, "documents.parquet"))
  }

  /** The calibration record + drift decision, pure so the spec can
    * pin its anchors (see [[d13CandidateBytesPerCorpusByte]]).
    * `actual` = max per-stage shuffle write observed during the
    * mining build — the amplified candidate stream dominates every
    * other stage by an order of magnitude at any scale where width
    * sizing matters (54.9 GB vs next-largest ~2 GB at sf40eq).
    * Returns the `_graft_meta` lines plus a warning iff the override
    * ENGAGED for this build and actual/estimated left [0.5, 2]: when
    * the override did not engage the numbers are still recorded, but
    * no warning fires — sub-advisory corpora are dominated by fixed
    * costs (sf0.1 measures ~0.03× simply because 0.6 MB of corpus
    * never leaves scan granularity) and the constant decided
    * nothing there. */
  private[graft] def d13CalibrationReport(corpusBytes: Long, engaged: Boolean,
      stages: Seq[graft.core.StageIO]): (Seq[String], Option[String]) = {
    val actual = (0L +: stages.map(_.writeBytes)).max
    val estimated = corpusBytes * d13CandidateBytesPerCorpusByte
    val ratio = if (estimated > 0) actual.toDouble / estimated else -1.0
    val lines = Seq(
      s"d13.candidate_bytes_actual=$actual",
      s"d13.candidate_bytes_estimated=$estimated",
      f"d13.actual_over_estimated=$ratio%.4f",
      s"d13.width_override_engaged=$engaged")
    val warn =
      if (engaged && (ratio < 0.5 || ratio > 2.0))
        Some(f"[d13-calibration] WARNING: measured candidate-stream bytes " +
          f"($actual) are $ratio%.2fx the estimate ($estimated) that sized this " +
          "build's width; d13CandidateBytesPerCorpusByte=150 does not fit this " +
          "corpus's shingle statistics. Re-derive it from " +
          "d13.candidate_bytes_actual in the artifact meta " +
          "(provenance: DedupQueries.d13CandidateBytesPerCorpusByte)")
      else None
    (lines, warn)
  }

  /** Build-time execution confs for the containment mining job — the
    * round-15 sf40eq finding landed (VERDICT r15 #2): the candidate
    * join `pref ⋈ ex` AMPLIFIES its output (2.3 GB read → 54 GB
    * emitted at 2M docs), and AQE's partition coalescing sizes
    * post-shuffle parallelism from MAP-OUTPUT bytes only — blind to
    * amplification — so the join stage ran ~27-wide no matter what
    * `spark.sql.shuffle.partitions` said (the "scaled to 128"
    * experiment changed nothing because AQE coalesced it straight
    * back). Measured on quiet arms: coalescing off + 128 real
    * partitions dropped the sf40eq build 424 → 265.6 s and the join
    * stage 11,015 → 3,775 core-seconds.
    *
    * The width is sized from the AMPLIFIED-OUTPUT ESTIMATE, not from a
    * machine constant: a fixed 4×cores floor would be blind to input
    * size — the same class of error as AQE's, in the opposite
    * direction — and round 16's first cut measured exactly that
    * (sf0.1's 0.6 MB corpus built 4.9 → 13.9 s cold under a forced
    * 128-wide build). So:
    *
    *  - `need` = estimated candidate bytes (corpus parquet size ×
    *    [[d13CandidateBytesPerCorpusByte]]) ÷ AQE's advisory partition
    *    size — the partition count AQE itself WOULD pick if it could
    *    see the join's output instead of its map input;
    *  - `need ≤ defaultParallelism`: the whole amplified stream fits
    *    in one advisory-sized wave across the machine — stock AQE
    *    behavior is appropriate, no conf override at all (small-corpus
    *    builds keep their coalesced plans and their speed);
    *  - otherwise: coalescing OFF for the build (AQE cannot be
    *    trusted to size an amplifying stage) and width =
    *    max(min(need, configured), min(need, 4 × defaultParallelism))
    *    — data-sized until the 4×cores cap (the measured-good
    *    128-on-32 point; tasks beyond ~4 waves only add scheduling
    *    overhead on a fixed machine), with a real deployment's
    *    configured thousands staying authoritative up to `need`. The
    *    clamp by `need` on BOTH terms (ADVICE r16) keeps a stock
    *    deployment default (shuffle.partitions=200, or a cluster's
    *    4000) from forcing tiny partitions under disabled coalescing
    *    on a corpus barely past the one-wave threshold — the same
    *    small-corpus overhead class the estimate gate exists to
    *    avoid, one decade up: need≈33 on 32 cores must run ~33-wide,
    *    never 200-wide.
    *
    * The confs apply to the BUILD only ([[graft.core.ArtifactStore]]
    * scopes them to the mining execution; every serving plan is a
    * stored-manifest read). Width is a pure execution knob — the pair
    * set is identical at any partitioning — so the artifact
    * fingerprint does not incorporate it. Pinned by D13BuildWidthSpec:
    * the decision function at its measured anchor points, the mining
    * stages really running at ≥ the width, and the session confs
    * restored after the build. */
  private[graft] def d13BuildConf(spark: SparkSession, dir: String): Map[String, String] = {
    val corpusBytes = d13CorpusBytes(dir)
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
    val configured = spark.conf.get("spark.sql.shuffle.partitions").toInt
    d13BuildWidth(corpusBytes, configured,
      spark.sparkContext.defaultParallelism, advisory) match {
      case None => Map.empty
      case Some(width) => Map(
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> width.toString)
    }
  }

  /** The pure width decision (see [[d13BuildConf]]): None = stock AQE
    * (small corpus), Some(width) = coalescing off at `width`.
    * Separated so the spec can pin the measured anchor points
    * directly: (408 MB, 32 cores) → 128; (80 MB, 32) → 128;
    * (0.6 MB, 32) → None; (huge corpus, configured 4000) → 4000. */
  private[graft] def d13BuildWidth(corpusBytes: Long, configured: Int,
      parallelism: Int, advisoryBytes: Long): Option[Int] = {
    val need = math.ceil(
      corpusBytes.toDouble * d13CandidateBytesPerCorpusByte / advisoryBytes).toLong
    if (need <= parallelism) None
    else Some(math.max(math.min(need, configured.toLong),
      math.min(need, 4L * parallelism)).toInt)
  }

  /** The prefix-filter join construction — the stored artifact's BUILD
    * body, exposed (like [[resemblancePairsPlan]]) so PlansSpec can
    * keep the never-all-pairs shape pinned on the plan that actually
    * mines. */
  private[graft] def containmentPairsPlan(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents").createOrReplaceTempView("documents")
    // the mining WITH chain references ids four times (ex feeds df and
    // cand, plus both verify sides) — a SQL-WITH consumer, so a lazy
    // persist never substitutes (see [[Materialize]]); checkpoint the
    // shingle table once for the build, from the RAW plan, not from
    // registerIds' persisted view: routing through the view (round 13)
    // made the checkpoint's materializing count() ALSO populate the
    // session cache entry, holding the largest dedup relation twice
    // (InMemoryRelation + checkpoint blocks) for the rest of the
    // session (ADVICE r13). This build runs once per corpus
    // fingerprint; resemblancePairsPlan deliberately keeps the
    // un-checkpointed CTE chain because that exact plan shape is the
    // CTE-pushdown canary's pinned reproduction target
    // (CteWorkaroundCanarySpec — retire together).
    Materialize.swap(d13IdsHandle, spark.sql(s"WITH $idsCteSpark SELECT * FROM ids"))
      .createOrReplaceTempView("ids")
    spark.sql(s"""
      WITH ex AS (SELECT doc_id, size(ids) AS sz, explode(ids) AS g FROM ids),
      df AS (SELECT g, count(*) AS df FROM ex GROUP BY g),
      pref AS (SELECT doc_id, sz, g FROM (
                 SELECT e.doc_id, e.sz, e.g,
                        row_number() OVER (PARTITION BY e.doc_id
                                           ORDER BY d.df, e.g) AS rn
                 FROM ex e JOIN df d ON e.g = d.g) r
               WHERE rn <= CAST(floor(0.4 * sz) + 1 AS INT)),
      cand AS (SELECT DISTINCT least(p.doc_id, x.doc_id) AS i,
                      greatest(p.doc_id, x.doc_id) AS j
               FROM pref p JOIN ex x ON p.g = x.g
               WHERE p.sz < x.sz OR (p.sz = x.sz AND p.doc_id <> x.doc_id)),
      ver AS (SELECT /*+ SHUFFLE_HASH(ia), SHUFFLE_HASH(ib) */
                c.i AS doc_id_a, c.j AS doc_id_b,
                round(CAST(size(array_intersect(ia.ids, ib.ids)) AS DOUBLE)
                      / least(size(ia.ids), size(ib.ids)), 6) AS containment
              FROM cand c JOIN ids ia ON ia.doc_id = c.i JOIN ids ib ON ib.doc_id = c.j)
      SELECT doc_id_a, doc_id_b, containment FROM ver WHERE containment >= 0.6""")
  }

  // --- d2: SimHash ---------------------------------------------------------

  /** Fingerprinting runs through the codegen [[graft.functions.SimHash30]]
    * expression — the builtin spelling (30 interpreted ArrayFilter passes
    * per doc) was ~1000× slower and dominated the benchmark.
    *
    * Pairing uses the pigeonhole block trick instead of the O(n²)
    * nested loop: split the 30-bit fingerprint into 5 blocks of 6 bits;
    * any pair within hamming ≤ 4 must agree on at least one whole block
    * (5 blocks, ≤4 differing bits). So candidates = pairs sharing
    * (block_idx, block_value) — an EQUI-join Spark shuffles on the block
    * key — then the exact hamming filter keeps true pairs. Same result
    * set by construction; turns the 12.5M-pair scan at sf0.1 into a few
    * thousand candidates. */
  def d2Simhash(spark: SparkSession, dir: String): DataFrame = {
    // Round 18: the persisted ids view, as in d3 — the join-key
    // constraint (`isnotnull(simhash30(...))`) substituted the whole
    // shingle+simhash pipeline into a scan filter below the exchange
    // (plans/r17/d2_simhash_before.txt); against the cache it degrades
    // to one cheap simhash re-check over cached ids.
    registerIds(spark, dir)
    // spread the cache read for the block explode + self-join, and use
    // inline subqueries for the same cache-substitution reason as d3
    Tables.spread(spark, spark.table("ids")).createOrReplaceTempView("ids_spread")
    // explode-barrier on the fingerprint: the join-key isnotnull
    // constraint substituted a plain `simhash30(ids) AS sim` alias into
    // a scan filter, re-running the kernel per row per side; with sim
    // as generator output the inferred isnotnull stays above the
    // Generate and reads the materialized value
    val blocks = s"""(SELECT doc_id, sim, explode(transform(sequence(0, 4), p ->
                   named_struct('bi', p, 'bv', shiftright(sim, p * 6) & 63))) AS b
                 FROM (SELECT doc_id, sim FROM ids_spread
                       LATERAL VIEW explode(array(simhash30(ids))) ts AS sim))"""
    spark.sql(s"""
      SELECT i AS doc_id_a, j AS doc_id_b,
             CAST(bit_count(sa ^ sb) AS BIGINT) AS ham
      FROM (SELECT DISTINCT a.doc_id AS i, a.sim AS sa, b.doc_id AS j, b.sim AS sb
            FROM $blocks a JOIN $blocks b
              ON a.b.bi = b.b.bi AND a.b.bv = b.b.bv AND a.doc_id < b.doc_id) cand
      WHERE bit_count(sa ^ sb) <= $hamThreshold
      ORDER BY doc_id_a, doc_id_b""")
  }

  // --- d4: near-dup clusters (connected components) ------------------------

  /** d4 — the step a real dedup pipeline runs AFTER pair mining:
    * transitive clustering of d1's near-dup pairs (A~B and B~C must
    * dedup to ONE survivor even when A~C was never emitted), via the
    * alternating large-star/small-star algorithm in
    * [[graft.operators.ConnectedComponents]] — O(log² n) shuffle
    * rounds instead of the O(diameter) rounds plain min-label flooding
    * needs (boilerplate-heavy corpora chain near-dup pairs into deep
    * paths), with each superseded round's snapshot released as soon as
    * the next materializes. The driver never sees row data, only the
    * per-round star-forest convergence booleans. Output: (doc_id,
    * cluster) for every document, cluster = min doc_id of its
    * component — singletons label themselves, and `MIN(doc_id) per
    * cluster` is exactly l1's keep-first survivor rule. */
  def d4DedupClusters(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    clusterLabels(spark, dir).orderBy("doc_id")
  }

  /** Build counter for the stored resemblance cluster labels. */
  private[graft] val d4LabelBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  /** (doc_id, cluster) labels shared by d4 (the cluster dump), d5
    * (the survivor manifest) and d7 (the canonical picks) — cluster =
    * min doc_id of the connected component of d1's near-dup pairs.
    *
    * Round 11: a fingerprint-keyed STORED artifact. The star-
    * contraction loop is EAGER (driver-driven actions), so neither
    * plan-cache dedup nor lazy lineage could ever share it — through
    * round 10 a localCheckpoint memo with count() liveness probes
    * stood in; the stored manifest retires that machinery (two id
    * columns, exact roundtrip) and survives JVMs: the clustering runs
    * once per corpus version, which is what a production dedup
    * pipeline does with its cluster assignment table anyway. */
  private def clusterLabels(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val fp = graft.core.ArtifactStore.fingerprint(dir, Seq("documents.parquet"),
      Seq(s"d4labels=v1:minhash16:bands=8x2:thr=$jacThreshold"))
    graft.core.ArtifactStore.getOrBuild(spark, "d4_labels_v1", fp, dir, d4LabelBuilds) { _ =>
      val pairs = resemblancePairs(spark, dir).select(col("doc_id_a"), col("doc_id_b"))
      val docs = Tables.load(spark, dir, "documents").select(col("doc_id"))
      graft.operators.ConnectedComponents.run(docs, pairs)
        .select(col("id").as("doc_id"), col("cluster"))
    }
  }

  // --- d5: the surviving corpus manifest ------------------------------------

  /** d5 — the step that actually SHRINKS the corpus: every document
    * whose cluster label is some OTHER document is a victim; the
    * survivors (cluster == doc_id — exactly one per component, the
    * minimum, matching l1's keep-first rule) form the deduped corpus
    * manifest a training job reads. Shaped for 100 TB: the victim set
    * (doc_id only, typically a small fraction of the corpus) drives a
    * LEFT ANTI join against the full documents table, so the wide `text`
    * column never shuffles and the output is a filter of the original
    * scan, not a rewrite through a join with every label. */
  def d5DedupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val victims = clusterLabels(spark, dir)
      .filter(col("cluster") =!= col("doc_id"))
      .select(col("doc_id"))
    Tables.load(spark, dir, "documents")
      .join(victims, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** d15 — NORMALIZED exact dedup (the CCNet/RefinedWeb "fuzzy-exact"
    * gate): group on the hash of the CANONICALIZED text — NFC
    * normalization, lowercase, whitespace runs collapsed to one
    * space, leading/trailing space trimmed — and keep the minimum
    * doc_id per group with its copy count. l1's byte-exact dedup
    * misses trivially-reformatted copies (case flips, doubled spaces,
    * decomposed Unicode — exactly what scraping the same page through
    * two toolchains produces); full near-dup (d1) is overkill for
    * them. This is the cheap middle gate real pipelines run FIRST:
    * one scan computing a per-row key + one hash-keyed aggregate —
    * the text never shuffles, only the 8-byte key does. The crafted
    * variant-collapse case (which the generated corpus lacks) is
    * asserted in DedupClusterSpec. */
  def d15NormalizedExact(spark: SparkSession, dir: String): DataFrame = {
    Tables.loadSpread(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql("""
      SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
      FROM (SELECT doc_id,
              poly_hash(trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' '))) AS k
            FROM documents)
      GROUP BY k
      ORDER BY doc_id""")
  }

  /** d14 — FULL dedup clustering over BOTH duplication modalities:
    * d1's resemblance pairs (Jaccard ≥ 0.5) unioned with d13's
    * containment pairs (≥ 0.6) before connected components. d4
    * clusters resemblance alone, which dedups a wrapper-page corpus
    * WRONG: a page quoting a whole smaller document chains to it only
    * through containment (Jaccard ≈ |small|/|big| ≈ 0), so the
    * quote-wrapper survives d4/d5 as a "unique" document and the
    * training corpus keeps the duplicated text. The union runs before
    * CC — transitivity must close over the MERGED edge set (A contains
    * B, B resembles C ⇒ one cluster), not per modality.
    *
    * Scale shape: both pair miners are the already-audited equi-join
    * plans (band join / prefix-filter join) sharing the persisted
    * shingle-id table AND the session-persisted pair manifests
    * ([[resemblancePairs]]/[[containmentPairs]]) — when d1/d13/d4/d5/d7
    * ran in the same session, d14 re-mines nothing; only 16-byte id
    * PAIRS enter the union and the star-contraction rounds — the text
    * column never reaches CC. */
  def d14FullDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    // the merged-modality labels are a STORED artifact (round 11, the
    // clusterLabels discipline): the eager CC loop runs once per
    // corpus version and every later call — in this JVM or the next —
    // reads the stored (doc_id, cluster) manifest
    val fp = graft.core.ArtifactStore.fingerprint(dir, Seq("documents.parquet"),
      Seq(s"d14labels=v1:res-thr=$jacThreshold:con-thr=0.6"))
    graft.core.ArtifactStore.getOrBuild(spark, "d14_labels_v1", fp, dir, d14LabelBuilds) { _ =>
      val resemblance = resemblancePairs(spark, dir).select(col("doc_id_a"), col("doc_id_b"))
      val containment = containmentPairs(spark, dir).select(col("doc_id_a"), col("doc_id_b"))
      val docs = Tables.load(spark, dir, "documents").select(col("doc_id"))
      graft.operators.ConnectedComponents.run(docs, resemblance.union(containment))
        .select(col("id").as("doc_id"), col("cluster"))
    }.orderBy("doc_id")
  }

  /** Build counter for the stored merged-modality labels. */
  private[graft] val d14LabelBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  // --- d7: quality-aware canonical representative per cluster ---------------

  /** d7 — QUALITY-AWARE survivor selection: per near-dup cluster, keep
    * the BEST document (longest text, doc_id tie-break), not the
    * smallest id. This is what production dedup actually ships — among
    * near-duplicates you keep the most complete variant (the un-truncated
    * mirror, the full article), while d5's min-id rule is the
    * order-stable baseline. Composition shape for 100 TB: the cluster
    * labels (d4) join `documents` on the 8-byte doc_id for the
    * n_chars quality signal only — the wide text column never moves —
    * and the per-cluster argmax runs through the custom TopKPerKey
    * operator (k=1), whose map-side partial pass cuts each partition
    * to one candidate row per cluster before the only exchange. */
  def d7CanonicalDocs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cands = clusterLabels(spark, dir)
      .join(Tables.load(spark, dir, "documents").select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
    graft.plans.TopK.perKey(cands, Seq(col("cluster")),
      Seq(col("n_chars").desc, col("doc_id")), k = 1)
      .select(col("cluster"), col("doc_id"), col("n_chars"))
      .orderBy("cluster")
  }

  // --- d6: incremental (new-batch-vs-base) dedup ----------------------------

  /** d6 — INCREMENTAL dedup, the shape a production ingest actually
    * runs: the corpus is already deduped (the "base"); only the
    * incoming batch needs checking, AGAINST the base — never base ×
    * base again. Here incoming = doc_id % 4 == 0, base = the rest
    * (stand-ins for "this crawl" vs "the corpus"). Two asymmetric
    * passes, both equi-joins: exact (sha-256 match — only (hash, id)
    * shuffles, the l1 trick) and near-dup (d1's banded MinHash, but the
    * band join is incoming × base only, so candidate cost follows the
    * BATCH size, not the corpus size). Accepted = incoming minus both
    * victim sets, via NOT EXISTS (planned as LEFT ANTI joins on 8-byte
    * ids — the wide text column never moves). At 100 TB the base-side
    * signature table is a precomputed index maintained across ingests
    * (amortized exactly like d1's persisted ids); intra-batch dedup
    * composes by running l1/d1 over the accepted set afterwards. */
  def d6IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    // plain load, not loadSpread — the materialization barrier right
    // below is what parallelism would buy, and the single-task shingle
    // kernel measured cheaper than a spread's extra shuffle (d1's
    // reasoning)
    Tables.load(spark, dir, "documents").createOrReplaceTempView("documents")
    // the consuming WITH chain references ids three times (mh and both
    // verify sides) — and because it is a SQL-WITH consumer, a
    // persist+view would silently re-run the shingle kernel per
    // reference (round 13, measured: 0 cache hits, 7 parquet scans).
    // [[Materialize.swap]] checkpoints the ids table once; the three
    // references share the LogicalRDD leaf by construction
    Materialize.swap(d6IdsHandle,
        spark.sql(s"WITH $idsCteSpark SELECT * FROM ids"))
      .createOrReplaceTempView("ids")
    spark.sql(s"""
      WITH mh AS (SELECT doc_id, minhash16(ids) AS mh FROM ids),
      eb AS (SELECT doc_id, band.bi AS bi, band.bk AS bk
             FROM mh LATERAL VIEW explode(array($bandStructsSpark)) AS band),
      exact_dup AS (SELECT DISTINCT n.doc_id
                    FROM (SELECT doc_id, sha2(text, 256) AS h FROM documents
                          WHERE doc_id % 4 = 0) n
                    JOIN (SELECT sha2(text, 256) AS h FROM documents
                          WHERE doc_id % 4 <> 0) b ON n.h = b.h),
      cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
               FROM eb a JOIN eb b ON a.bi = b.bi AND a.bk = b.bk
               WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0),
      near_dup AS (SELECT DISTINCT c.i AS doc_id
                   FROM cand c JOIN ids ia ON ia.doc_id = c.i
                   JOIN ids ib ON ib.doc_id = c.j
                   WHERE ${jacSpark("ia.ids", "ib.ids")} >= $jacThreshold)
      SELECT d.doc_id, d.n_chars FROM documents d
      WHERE d.doc_id % 4 = 0
        AND NOT EXISTS (SELECT 1 FROM exact_dup e WHERE e.doc_id = d.doc_id)
        AND NOT EXISTS (SELECT 1 FROM near_dup nd WHERE nd.doc_id = d.doc_id)
      ORDER BY d.doc_id""")
  }

  /** d9 — duplicated-SPAN detection: the substring-granularity dedup
    * mode (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL 2022 — their suffix-array ExactSubstr pass),
    * approximated at token-5-gram granularity. d1–d8 decide per
    * DOCUMENT; this finds the spans INSIDE documents that also occur in
    * other documents (boilerplate headers, license blocks, quoted
    * chunks) — what a training pipeline masks or cuts even when the
    * document as a whole survives.
    *
    * Shape: positional 5-gram hashes per doc (the codegen
    * [[graft.functions.GramHashes]] kernel — one fused loop, array
    * index = span position), explode to (doc_id, h), group on h keeping
    * hashes seen in >1 DISTINCT doc, join back, count duplicated spans
    * per doc. 100 TB posture: identical to d1's hash-first rule — only
    * 8-byte span hashes ever shuffle (explode, group, join are all on
    * `h`), the duplicated-hash side of the join is corpus-overlap-sized
    * (small), and the text column never leaves the scan. Emitting the
    * positions to mask is the same plan with posexplode — the counts
    * here keep the output hash-stable for the oracle.
    *
    * A span duplicated TWICE WITHIN one doc does not count (that is
    * intra-doc repetition, t7's job); cross-doc presence is what makes
    * a span boilerplate. Docs under 5 tokens have no spans and are
    * excluded by both dialects. */
  def d9SpanDedup(spark: SparkSession, dir: String): DataFrame = {
    Tables.loadSpread(spark, dir, "documents").createOrReplaceTempView("documents")
    // round 11: the duplicated positions come from the STORED mask
    // manifest ([[spanMask]]) — n_spans is a per-row expression on the
    // scan (size of the fused gram kernel's output), n_dup the
    // per-doc mask-row count; the detection itself runs once per
    // corpus version, not once per counting view
    spanMask(spark, dir).createOrReplaceTempView("d11_mask")
    // split behind a one-row explode barrier: the `size >= 5` gate
    // otherwise re-tokenized every row a second time in the scan
    // filter (no cross-conjunct CSE in Filter codegen)
    spark.sql("""
      WITH g AS (SELECT doc_id,
                   CAST(size(gram_hashes(w, 5)) AS BIGINT) AS n_spans
                 FROM documents
                 LATERAL VIEW explode(array(split(text, ' '))) tw AS w
                 WHERE size(w) >= 5),
      mc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
             FROM d11_mask GROUP BY doc_id)
      SELECT g.doc_id, g.n_spans, coalesce(mc.n_dup, CAST(0 AS BIGINT)) AS n_dup
      FROM g LEFT JOIN mc ON g.doc_id = mc.doc_id
      ORDER BY g.doc_id""")
  }

  /** d10 — Bloom-filter MEMBERSHIP pre-filter + exact confirm: the
    * bounded-memory ingest gate. Base = the (user_id, event_type,
    * hour-of-day) behavior combos of days 1–15; incoming = days 16–30;
    * the question per incoming combo is "did the base period already
    * see this" — answered FIRST by the 128 KB [[graft.functions
    * .BloomAgg]] sketch (built map-side, partials OR-merged, broadcast
    * to the probe scan), THEN confirmed exactly — but only for the
    * maybe-set, which is hits + the sketch's ~sub-percent false
    * positives. At 100 TB the base key set never shuffles to the
    * probes; a fixed 128 KB artifact does, and the exact join runs on
    * the small surviving fraction. Both the sketch answer (`maybe`)
    * and the truth (`confirmed`) are output columns, so the oracle
    * gates the false-positive SET itself, not just the final answer:
    * DuckDB rebuilds the exact bit array from the same hash
    * arithmetic. Membership is defined over the poly_hash of the
    * combo (d3's hashed-set convention); false negatives are
    * impossible by construction, which the confirmed ⇒ maybe
    * implication in the output demonstrates row by row. */
  def d10BloomDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    // coalesce BEFORE concatenation: concat_ws would silently drop a
    // NULL event_type (hashing a shorter string) where the oracle's ||
    // null-propagates — coalescing in BOTH dialects keeps the key
    // arithmetic identical if the generator ever ships NULLs
    val key = "poly_hash(concat_ws('_', CAST(user_id AS STRING), coalesce(event_type, ''), CAST(hod AS STRING)))"
    val e = spark.sql(
      "SELECT user_id, event_type, CAST(hour(ts) AS BIGINT) AS hod, dayofmonth(ts) AS dy FROM events")
    e.createOrReplaceTempView("d10_e")
    // the base key set feeds BOTH the sketch build and the exact
    // confirm join — persist it (session-scoped, the resemblancePairs
    // discipline; cache-manager plan dedup keeps double invocations at
    // one copy) so the events scan + DISTINCT runs once, not twice
    val base = spark.sql(
      s"SELECT DISTINCT user_id, event_type, hod, $key AS h FROM d10_e WHERE dy <= 15")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inc = spark.sql(
      s"SELECT DISTINCT user_id, event_type, hod, $key AS h FROM d10_e WHERE dy > 15")
    val bloom = base.agg(graft.functions.BloomAgg(col("h")).as("bf"))
    val flagged = inc.crossJoin(broadcast(bloom))
      .select(col("user_id"), col("event_type"), col("hod"), col("h"),
        graft.functions.BloomMaybe(col("bf"), col("h")).as("maybe"))
    val confirmed = flagged.where(col("maybe"))
      .join(base.select("h").distinct(), Seq("h"), "left_semi")
      .select(col("user_id"), col("event_type"), col("hod"), lit(true).as("c"))
    flagged.join(confirmed, Seq("user_id", "event_type", "hod"), "left")
      .select(col("user_id"), col("event_type"), col("hod"), col("maybe"),
        coalesce(col("c"), lit(false)).as("confirmed"))
      .orderBy("user_id", "event_type", "hod")
  }

  /** Build counter for the stored span-mask manifest. */
  private[graft] val d11MaskBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  /** The duplicated-span MASK MANIFEST (doc_id, pos) — since round 11
    * a fingerprint-keyed STORED artifact, which is what d11's own doc
    * always claimed it is ("the artifact a pipeline actually
    * consumes"): detected once per corpus version, read by d9 (the
    * counts view), d11 (the manifest dump), and d12 (the cut job).
    * The detection shuffles only (id, pos, hash) rows; text never
    * moves; all stored cells are longs. */
  private def spanMask(spark: SparkSession, dir: String): DataFrame = {
    val fp = graft.core.ArtifactStore.fingerprint(dir, Seq("documents.parquet"),
      Seq("d11mask=v1:gram=5"))
    graft.core.ArtifactStore.getOrBuild(spark, "d11_mask_v1", fp, dir, d11MaskBuilds) { _ =>
      Tables.loadSpread(spark, dir, "documents").createOrReplaceTempView("documents")
      spark.sql("""
        WITH toks AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
        g AS (SELECT doc_id, gram_hashes(w, 5) AS gs FROM toks WHERE size(w) >= 5),
        p AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos, h
              FROM g LATERAL VIEW posexplode(gs) AS pos, h),
        d AS (SELECT h FROM p GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1)
        SELECT p.doc_id, p.pos
        FROM p JOIN d ON p.h = d.h""")
    }
  }

  /** d11 — the SPAN MASK MANIFEST: d9's duplicated-span detection
    * emitted as the artifact a pipeline actually consumes — one
    * (doc_id, pos) row per 5-gram span whose hash occurs in another
    * document, i.e. the start offsets (token index, 0-based) of the
    * regions to mask or cut before training. The detection runs with
    * `posexplode` carrying the position through the hash join (the
    * shuffled row grows from 16 to 24 bytes — still id+hash width,
    * text still never moves); since round 11 the manifest is STORED
    * ([[spanMask]]) and the cut job reads it back by doc_id, so the
    * wide column is read exactly once by whichever job applies the
    * mask. */
  def d11SpanMask(spark: SparkSession, dir: String): DataFrame =
    spanMask(spark, dir).orderBy("doc_id", "pos")

  /** d12 — the SPAN CUT: d11's mask manifest APPLIED, producing the
    * cleaned corpus — Lee et al.'s pipeline endpoint (detect → localize
    * → cut). Per doc, the masked token set is the UNION of [pos, pos+4]
    * over its manifest rows; the kept tokens rebuild the text. The
    * per-doc mask positions aggregate to one sorted array (bounded by
    * the doc's token count), LEFT-join back to the corpus by doc_id —
    * the ONE place the wide text column legitimately moves, and it
    * moves exactly once — and the [[graft.functions.SpanCut]] codegen
    * kernel does the cut as a linear two-pointer walk (the builtin
    * spelling is a per-token `exists()` over the span list:
    * O(tokens × spans) interpreted lambdas). Unmasked docs (no manifest
    * rows, incl. docs under 5 tokens) pass through as their token join
    * — the same normalization the cut path applies, so the output
    * column has one consistent definition. Oracle: the mask rule
    * restated over DuckDB's unnest + NOT EXISTS interval test. */
  def d12SpanCut(spark: SparkSession, dir: String): DataFrame = {
    Tables.loadSpread(spark, dir, "documents").createOrReplaceTempView("documents")
    // the STORED mask manifest (round 11) — the cut job reads the
    // artifact instead of re-running the detection; the mask view's
    // plan is a plain parquet read, so the WITH wrap is safe (the d16
    // CTE hazard needs a CTE chain inside the wrapped view)
    spanMask(spark, dir).createOrReplaceTempView("d11_mask")
    spark.sql("""
      WITH toks AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
      m AS (SELECT doc_id, sort_array(collect_list(pos)) AS starts
            FROM d11_mask GROUP BY doc_id)
      SELECT t.doc_id,
             CASE WHEN m.starts IS NULL THEN array_join(t.w, ' ')
                  ELSE span_cut(t.w, m.starts, 5) END AS cleaned_text
      FROM toks t LEFT JOIN m ON t.doc_id = m.doc_id
      ORDER BY t.doc_id""")
  }

  /** d16 — SKETCH CALIBRATION: for every verified d1 pair, the MinHash
    * ESTIMATE of its Jaccard (16-signature agreement fraction, emitted
    * as an exact integer permille) next to the exact verified value —
    * the measurement that justifies the banding knobs (s15's eval
    * idea applied to the dedup sketch: E[agreement/16] = J, stderr
    * ~1/√16 ≈ 0.25 per pair — you pick thresholds and band counts
    * from THIS table, not from folklore). Reuses the session-persisted
    * pair manifest (mine once, consume many) and joins the
    * doc-count-sized signature table by id — per-pair work is 16
    * integer compares. */
  def d16SketchCalibration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val pairs = resemblancePairs(spark, dir)
    // DataFrame joins, deliberately no WITH: wrapping the persisted
    // pair view (whose plan already carries the ids CTE chain) in
    // another CTE trips Catalyst's CTE pushdown bookkeeping
    // (PushdownPredicatesAndPruneColumnsForCTEDef.scala:74 on Spark
    // 4.1.2: key not found: <defId>). CteWorkaroundCanarySpec pins
    // that the WITH spelling STILL throws on this Spark, and (round
    // 15) carries a MINIMIZED graft-free repro — four stock-SQL
    // statements, the upstream-reportable form — as a second pin.
    // When an upgrade fixes the rule both canary tests fail and this
    // workaround retires with them
    val sigs = spark.sql("SELECT doc_id, minhash16(ids) AS mh FROM ids")
    pairs
      .join(sigs.select(col("doc_id").as("doc_id_a"), col("mh").as("mha")), "doc_id_a")
      .join(sigs.select(col("doc_id").as("doc_id_b"), col("mh").as("mhb")), "doc_id_b")
      .selectExpr("doc_id_a", "doc_id_b",
        "CAST(size(filter(zip_with(mha, mhb, (x, y) -> x = y), b -> b)) AS BIGINT) AS n_match",
        "jac")
      .selectExpr("doc_id_a", "doc_id_b", "n_match",
        "n_match * 1000 DIV 16 AS est_permille", "jac")
      .orderBy("doc_id_a", "doc_id_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d16_sketch_calibration" -> (d16SketchCalibration _),
    "d12_span_cut"     -> (d12SpanCut _),
    "d11_span_mask"    -> (d11SpanMask _),
    "d10_bloom_dedup"  -> (d10BloomDedup _),
    "d9_span_dedup"    -> (d9SpanDedup _),
    "d1_minhash_lsh"   -> (d1MinhashLsh _),
    "d13_containment"  -> (d13Containment _),
    "d14_full_dedup"   -> (d14FullDedup _),
    "d15_normalized_exact" -> (d15NormalizedExact _),
    "d2_simhash"       -> (d2Simhash _),
    "d3_ngram_jaccard" -> (d3NgramJaccard _),
    "d4_dedup_clusters" -> (d4DedupClusters _),
    "d5_dedup_survivors" -> (d5DedupSurvivors _),
    "d6_incremental_dedup" -> (d6IncrementalDedup _),
    "d7_canonical_docs" -> (d7CanonicalDocs _),
  )

  val oracleSql: Map[String, String] = {
    val mhDuck = minhashAB.zipWithIndex.map { case ((a, b), k) =>
      s"list_min(list_transform(ids, x -> ($a*x + $b) % $P)) AS mh$k"
    }.mkString(", ")
    val bandList = (0 until 8).map(k =>
      s"{'bi': $k, 'bk': CAST(mh${2 * k} AS VARCHAR) || '_' || CAST(mh${2 * k + 1} AS VARCHAR)}")
      .mkString(", ")
    val gram5 = "w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]"
    // d10's combo-key hash and the two bloom probe positions — same
    // constants as graft.functions.BloomSketch (m = 2^20, LCG mix)
    val d10key = rollingHashDuck(
      "(CAST(user_id AS VARCHAR) || '_' || coalesce(event_type, '') || '_' || CAST(hod AS VARCHAR))")
    def bloomPos2(h: String) = s"((48271 * $h + 11) % 1000000007) % 1048576"
    Map(
      // DuckDB rebuilds the exact bit SET (positions from both hash
      // functions share one array), then answers maybe = both probe
      // positions present; confirmed = exact hash membership
      "d10_bloom_dedup" ->
        s"""WITH e AS (SELECT user_id, event_type, CAST(hour(ts) AS BIGINT) AS hod,
                          day(ts) AS dy FROM events),
        base AS (SELECT DISTINCT user_id, event_type, hod FROM e WHERE dy <= 15),
        inc AS (SELECT DISTINCT user_id, event_type, hod FROM e WHERE dy > 15),
        bh AS (SELECT $d10key AS h FROM base),
        bits AS (SELECT h % 1048576 AS p FROM bh UNION SELECT ${bloomPos2("h")} FROM bh),
        ih AS (SELECT user_id, event_type, hod, $d10key AS h FROM inc)
        SELECT user_id, event_type, hod,
               (h % 1048576 IN (SELECT p FROM bits)
                AND ${bloomPos2("h")} IN (SELECT p FROM bits)) AS maybe,
               (h IN (SELECT h FROM bh)) AS confirmed
        FROM ih
        ORDER BY user_id, event_type, hod""",
      // d11's mask rule applied: a token survives iff NO duplicated
      // span's interval [pos, pos+4] covers its index; unmasked docs
      // (no manifest rows) keep every token. string_agg over zero kept
      // tokens is NULL -> coalesce to '' (a fully-masked doc)
      "d12_span_cut" ->
        s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        gr AS (SELECT doc_id, list_transform(range(1, length(w) - 3), i -> ($gram5)) AS grams
               FROM toks WHERE length(w) >= 5),
        g AS (SELECT doc_id, list_transform(grams, t -> ${rollingHashDuck("t")}) AS gs FROM gr),
        p AS (SELECT doc_id, CAST(generate_subscripts(gs, 1) - 1 AS BIGINT) AS pos,
                     unnest(gs) AS h FROM g),
        d AS (SELECT h FROM p GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
        starts AS (SELECT p.doc_id, p.pos FROM p JOIN d ON p.h = d.h),
        tok AS (SELECT doc_id, unnest(w) AS t,
                       CAST(generate_subscripts(w, 1) - 1 AS BIGINT) AS idx FROM toks),
        kept AS (SELECT tok.doc_id, tok.t, tok.idx FROM tok
                 WHERE NOT EXISTS (SELECT 1 FROM starts s
                                   WHERE s.doc_id = tok.doc_id
                                     AND tok.idx BETWEEN s.pos AND s.pos + 4)),
        agg AS (SELECT doc_id, string_agg(t, ' ' ORDER BY idx) AS ct
                FROM kept GROUP BY doc_id)
        SELECT toks.doc_id, coalesce(agg.ct, '') AS cleaned_text
        FROM toks LEFT JOIN agg ON toks.doc_id = agg.doc_id
        ORDER BY toks.doc_id""",
      // d9's pipeline with the 0-based span position carried through
      // (DuckDB: generate_subscripts is 1-based, hence the -1)
      "d11_span_mask" ->
        s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        gr AS (SELECT doc_id, list_transform(range(1, length(w) - 3), i -> ($gram5)) AS grams
               FROM toks WHERE length(w) >= 5),
        g AS (SELECT doc_id, list_transform(grams, t -> ${rollingHashDuck("t")}) AS gs FROM gr),
        p AS (SELECT doc_id, CAST(generate_subscripts(gs, 1) - 1 AS BIGINT) AS pos,
                     unnest(gs) AS h FROM g),
        d AS (SELECT h FROM p GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1)
        SELECT p.doc_id, p.pos
        FROM p JOIN d ON p.h = d.h
        ORDER BY p.doc_id, p.pos""",
      // same positional 5-gram rolling hashes (range end exclusive:
      // starts 1..len-4), same cross-doc duplication rule. The gram
      // strings are materialized in their own CTE before hashing:
      // rollingHashDuck introduces a lambda variable `i`, and nesting
      // the gram expression (which uses the OUTER position lambda's
      // `i`) inside it would capture the inner char index instead —
      // DuckDB resolves shadowed lambda names innermost-first.
      "d9_span_dedup" ->
        s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        gr AS (SELECT doc_id, list_transform(range(1, length(w) - 3), i -> ($gram5)) AS grams
               FROM toks WHERE length(w) >= 5),
        g AS (SELECT doc_id, list_transform(grams, t -> ${rollingHashDuck("t")}) AS gs FROM gr),
        p AS (SELECT doc_id, unnest(gs) AS h FROM g),
        d AS (SELECT h FROM p GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1)
        SELECT p.doc_id, COUNT(*) AS n_spans, COUNT(d.h) AS n_dup
        FROM p LEFT JOIN d ON p.h = d.h
        GROUP BY p.doc_id
        ORDER BY p.doc_id""",
      "d3_ngram_jaccard" ->
        s"""WITH $shingleCteDuck,
        $idsCteDuck
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               ${jacDuck("a.ids", "b.ids")} AS jac
        FROM ids a JOIN ids b ON a.doc_id < b.doc_id
        WHERE ${jacDuck("a.ids", "b.ids")} >= $jacThreshold
        ORDER BY doc_id_a, doc_id_b""",
      // the same canonicalization chain verbatim (NFC -> lower ->
      // whitespace collapse -> trim) hashed by the shared rolling hash
      "d15_normalized_exact" ->
        s"""SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        FROM (SELECT doc_id,
                ${rollingHashDuck("trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g'))")} AS k
              FROM documents)
        GROUP BY k
        ORDER BY doc_id""",
      // the ALL-PAIRS ground truth — the prefix-filter candidates are
      // exact-recall by construction, so the oracle deliberately does
      // NOT restate candidate generation: any recall gap in the Spark
      // scheme shows up as a missing row here
      "d13_containment" ->
        s"""WITH $shingleCteDuck,
        $idsCteDuck
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               round(CAST(length(list_intersect(a.ids, b.ids)) AS DOUBLE)
                     / least(length(a.ids), length(b.ids)), 6) AS containment
        FROM ids a JOIN ids b ON a.doc_id < b.doc_id
        WHERE round(CAST(length(list_intersect(a.ids, b.ids)) AS DOUBLE)
                    / least(length(a.ids), length(b.ids)), 6) >= 0.6
        ORDER BY doc_id_a, doc_id_b""",
      // d16: d1's full pair derivation + the same 16 per-perm minhash
      // scalars joined per side; agreement is 16 integer equality
      // terms, the permille an exact integer division
      "d16_sketch_calibration" -> {
        val matchSum = (0 until 16)
          .map(k => s"CASE WHEN ma.mh$k = mb.mh$k THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""WITH $shingleCteDuck,
        $idsCteDuck,
        mh AS (SELECT doc_id, $mhDuck FROM ids),
        eb AS (SELECT doc_id, u.bi AS bi, u.bk AS bk
               FROM mh, UNNEST([$bandList]) t(u)),
        cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
                 FROM eb a JOIN eb b ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id),
        ver AS (SELECT c.i AS doc_id_a, c.j AS doc_id_b,
                       ${jacDuck("ia.ids", "ib.ids")} AS jac
                FROM cand c JOIN ids ia ON ia.doc_id = c.i JOIN ids ib ON ib.doc_id = c.j)
        SELECT v.doc_id_a, v.doc_id_b,
               CAST($matchSum AS BIGINT) AS n_match,
               CAST(CAST($matchSum AS BIGINT) * 1000 // 16 AS BIGINT) AS est_permille,
               v.jac
        FROM ver v JOIN mh ma ON ma.doc_id = v.doc_id_a
                   JOIN mh mb ON mb.doc_id = v.doc_id_b
        WHERE v.jac >= $jacThreshold
        ORDER BY v.doc_id_a, v.doc_id_b"""
      },
      "d1_minhash_lsh" ->
        s"""WITH $shingleCteDuck,
        $idsCteDuck,
        mh AS (SELECT doc_id, $mhDuck FROM ids),
        eb AS (SELECT doc_id, u.bi AS bi, u.bk AS bk
               FROM mh, UNNEST([$bandList]) t(u)),
        cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
                 FROM eb a JOIN eb b ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id),
        ver AS (SELECT c.i AS doc_id_a, c.j AS doc_id_b,
                       ${jacDuck("ia.ids", "ib.ids")} AS jac
                FROM cand c JOIN ids ia ON ia.doc_id = c.i JOIN ids ib ON ib.doc_id = c.j)
        SELECT doc_id_a, doc_id_b, jac FROM ver WHERE jac >= $jacThreshold
        ORDER BY doc_id_a, doc_id_b""",
      "d2_simhash" ->
        s"""WITH $shingleCteDuck,
        $idsCteDuck,
        simh AS (SELECT doc_id, list_sum(list_transform(range(0, 30), j ->
                   CASE WHEN 2 * length(list_filter(ids, h -> (h >> j) & 1 = 1)) > length(ids)
                        THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS sim FROM ids)
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS ham
        FROM simh a JOIN simh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sim, b.sim)) <= $hamThreshold
        ORDER BY doc_id_a, doc_id_b""",
      // transitive closure of d1's pairs via a recursive CTE: min
      // reachable doc_id per node == the label-propagation fixpoint
      "d4_dedup_clusters" ->
        s"""WITH RECURSIVE $shingleCteDuck,
        $idsCteDuck,
        mh AS (SELECT doc_id, $mhDuck FROM ids),
        eb AS (SELECT doc_id, u.bi AS bi, u.bk AS bk
               FROM mh, UNNEST([$bandList]) t(u)),
        cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
                 FROM eb a JOIN eb b ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id),
        pairs AS (SELECT c.i AS pa, c.j AS pb
                  FROM cand c JOIN ids ia ON ia.doc_id = c.i JOIN ids ib ON ib.doc_id = c.j
                  WHERE ${jacDuck("ia.ids", "ib.ids")} >= $jacThreshold),
        edges AS (SELECT pa AS src, pb AS dst FROM pairs
                  UNION ALL SELECT pb, pa FROM pairs),
        reach AS (SELECT doc_id AS id, doc_id AS lab FROM documents
                  UNION
                  SELECT e.dst AS id, reach.lab
                  FROM edges e JOIN reach ON reach.id = e.src)
        SELECT id AS doc_id, MIN(lab) AS cluster FROM reach
        GROUP BY id ORDER BY doc_id""",
      // d4's transitive closure over the MERGED edge set: the banded
      // resemblance pairs UNION the all-pairs containment ground truth
      // (the Spark side's prefix-filter candidates are exact-recall,
      // so the all-pairs spelling is the right twin — as in d13)
      "d14_full_dedup" ->
        s"""WITH RECURSIVE $shingleCteDuck,
        $idsCteDuck,
        mh AS (SELECT doc_id, $mhDuck FROM ids),
        eb AS (SELECT doc_id, u.bi AS bi, u.bk AS bk
               FROM mh, UNNEST([$bandList]) t(u)),
        cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
                 FROM eb a JOIN eb b ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id),
        rpairs AS (SELECT c.i AS pa, c.j AS pb
                   FROM cand c JOIN ids ia ON ia.doc_id = c.i JOIN ids ib ON ib.doc_id = c.j
                   WHERE ${jacDuck("ia.ids", "ib.ids")} >= $jacThreshold),
        cpairs AS (SELECT a.doc_id AS pa, b.doc_id AS pb
                   FROM ids a JOIN ids b ON a.doc_id < b.doc_id
                   WHERE round(CAST(length(list_intersect(a.ids, b.ids)) AS DOUBLE)
                               / least(length(a.ids), length(b.ids)), 6) >= 0.6),
        pairs AS (SELECT pa, pb FROM rpairs UNION SELECT pa, pb FROM cpairs),
        edges AS (SELECT pa AS src, pb AS dst FROM pairs
                  UNION ALL SELECT pb, pa FROM pairs),
        reach AS (SELECT doc_id AS id, doc_id AS lab FROM documents
                  UNION
                  SELECT e.dst AS id, reach.lab
                  FROM edges e JOIN reach ON reach.id = e.src)
        SELECT id AS doc_id, MIN(lab) AS cluster FROM reach
        GROUP BY id ORDER BY doc_id""",
      // d4's transitive clusters, reduced to the survivor manifest:
      // keep exactly the component minima (cluster == doc_id)
      "d5_dedup_survivors" ->
        s"""WITH RECURSIVE $shingleCteDuck,
        $idsCteDuck,
        mh AS (SELECT doc_id, $mhDuck FROM ids),
        eb AS (SELECT doc_id, u.bi AS bi, u.bk AS bk
               FROM mh, UNNEST([$bandList]) t(u)),
        cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
                 FROM eb a JOIN eb b ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id),
        pairs AS (SELECT c.i AS pa, c.j AS pb
                  FROM cand c JOIN ids ia ON ia.doc_id = c.i JOIN ids ib ON ib.doc_id = c.j
                  WHERE ${jacDuck("ia.ids", "ib.ids")} >= $jacThreshold),
        edges AS (SELECT pa AS src, pb AS dst FROM pairs
                  UNION ALL SELECT pb, pa FROM pairs),
        reach AS (SELECT doc_id AS id, doc_id AS lab FROM documents
                  UNION
                  SELECT e.dst AS id, reach.lab
                  FROM edges e JOIN reach ON reach.id = e.src),
        labels AS (SELECT id AS doc_id, MIN(lab) AS cluster FROM reach GROUP BY id)
        SELECT d.doc_id, d.n_chars FROM documents d
        JOIN labels l ON l.doc_id = d.doc_id
        WHERE l.cluster = l.doc_id ORDER BY d.doc_id""",
      // d4's transitive clusters, reduced to the QUALITY-chosen
      // representative: per cluster the longest doc wins, doc_id breaks
      // ties (the window spelling of the Spark side's TopKPerKey k=1)
      "d7_canonical_docs" ->
        s"""WITH RECURSIVE $shingleCteDuck,
        $idsCteDuck,
        mh AS (SELECT doc_id, $mhDuck FROM ids),
        eb AS (SELECT doc_id, u.bi AS bi, u.bk AS bk
               FROM mh, UNNEST([$bandList]) t(u)),
        cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
                 FROM eb a JOIN eb b ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id),
        pairs AS (SELECT c.i AS pa, c.j AS pb
                  FROM cand c JOIN ids ia ON ia.doc_id = c.i JOIN ids ib ON ib.doc_id = c.j
                  WHERE ${jacDuck("ia.ids", "ib.ids")} >= $jacThreshold),
        edges AS (SELECT pa AS src, pb AS dst FROM pairs
                  UNION ALL SELECT pb, pa FROM pairs),
        reach AS (SELECT doc_id AS id, doc_id AS lab FROM documents
                  UNION
                  SELECT e.dst AS id, reach.lab
                  FROM edges e JOIN reach ON reach.id = e.src),
        labels AS (SELECT id AS doc_id, MIN(lab) AS cluster FROM reach GROUP BY id)
        SELECT cluster, doc_id, n_chars FROM (
          SELECT l.cluster, d.doc_id, d.n_chars,
            ROW_NUMBER() OVER (PARTITION BY l.cluster
              ORDER BY d.n_chars DESC, d.doc_id) AS rn
          FROM labels l JOIN documents d ON d.doc_id = l.doc_id) t
        WHERE rn = 1 ORDER BY cluster""",
      // the incremental gate restated: incoming (doc_id % 4 = 0) minus
      // exact text matches against the base and minus band-join
      // candidates that verify at jaccard >= threshold (plain text
      // equality replaces the sha-256 match — identical semantics, the
      // hash is only a shuffle-size optimization on the Spark side)
      "d6_incremental_dedup" ->
        s"""WITH $shingleCteDuck,
        $idsCteDuck,
        mh AS (SELECT doc_id, $mhDuck FROM ids),
        eb AS (SELECT doc_id, u.bi AS bi, u.bk AS bk
               FROM mh, UNNEST([$bandList]) t(u)),
        exact_dup AS (SELECT DISTINCT n.doc_id FROM documents n JOIN documents b
                      ON n.doc_id % 4 = 0 AND b.doc_id % 4 <> 0 AND n.text = b.text),
        cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
                 FROM eb a JOIN eb b ON a.bi = b.bi AND a.bk = b.bk
                 WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0),
        near_dup AS (SELECT DISTINCT c.i AS doc_id
                     FROM cand c JOIN ids ia ON ia.doc_id = c.i
                     JOIN ids ib ON ib.doc_id = c.j
                     WHERE ${jacDuck("ia.ids", "ib.ids")} >= $jacThreshold)
        SELECT d.doc_id, d.n_chars FROM documents d
        WHERE d.doc_id % 4 = 0
          AND d.doc_id NOT IN (SELECT doc_id FROM exact_dup)
          AND d.doc_id NOT IN (SELECT doc_id FROM near_dup)
        ORDER BY d.doc_id""",
    )
  }
}
