package graft.functions

/** Shared deterministic text primitives, emitted in BOTH dialects —
  * Spark SQL (the engine) and DuckDB SQL (the oracle) — from one set of
  * constants so the two sides cannot drift.
  *
  * The core primitive is a polynomial rolling hash over code points,
  * `h = fold(0, c => (h*257 + c) mod 1e9+7)`: cheap, order-sensitive,
  * exactly reproducible in any engine with 64-bit integers. It stands in
  * for the content fingerprinting the reference does per-file via FNV-1a
  * (utils/utils.go:8-14) — same role, engine-neutral definition.
  */
object TextPrimitives {

  val P: Long = 1000000007L

  /** Spark SQL: rolling hash of string expression `g` — the codegen
    * [[PolyHash]] expression (on a session activated by
    * [[graft.core.GraftSession.activate]]).
    * Identical integer math to [[rollingHashSparkBuiltin]]. */
  def rollingHashSpark(g: String): String = s"poly_hash($g)"

  /** The same hash spelled with builtins only (interpreted: higher-order
    * functions are CodegenFallback — ~100× slower; kept for the
    * equivalence test pinning PolyHash to the SQL spec). */
  def rollingHashSparkBuiltin(g: String): String =
    s"aggregate(transform(sequence(1, char_length($g)), i -> " +
      s"CAST(ascii(substring($g, i, 1)) AS BIGINT)), CAST(0 AS BIGINT), " +
      s"(acc, c) -> (acc * 257 + c) % $P)"

  /** DuckDB SQL: rolling hash of string expression `g` (ord == ascii for
    * the ASCII test corpus; both return the leading code point). */
  def rollingHashDuck(g: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($g)+1), i -> CAST(ord($g[i]) AS BIGINT))), " +
      s"(a, b) -> (a*257 + b) % $P)"

  /** Distinct word-3-gram shingles of a token array `w` (1-based i:
    * w[i] w[i+1] w[i+2] for i in 1..len-2). Callers must guard len>=3 —
    * Spark's `sequence(1, n)` runs DESCENDING for n<1 instead of
    * returning empty. */
  def shinglesSpark(w: String): String =
    s"array_distinct(transform(sequence(1, size($w) - 2), i -> " +
      s"concat_ws(' ', get($w, i - 1), get($w, i), get($w, i + 1))))"

  def shinglesDuck(w: String): String =
    s"list_distinct(list_transform(range(1, length($w) - 1), i -> " +
      s"$w[i] || ' ' || $w[i+1] || ' ' || $w[i+2]))"

  /** MinHash permutation constants (a, b) for h_i(x) = (a*x + b) mod P.
    * 16 perms → 8 bands × 2 rows: the LSH s-curve threshold
    * (1/b)^(1/r) ≈ 0.35 keeps recall high at the jaccard≥0.5 operating
    * point. Fixed literals, shared by both dialects. */
  val minhashAB: Seq[(Long, Long)] = Seq(
    (579909L, 235763447L), (52554L, 982451653L), (357440L, 137431131L),
    (899809L, 15485863L), (94965L, 715225739L), (540247L, 350003171L),
    (302477L, 102334155L), (35659L, 479001599L), (672011L, 868864481L),
    (145069L, 32452843L), (430055L, 533000389L), (786433L, 196613057L),
    (91229L, 925273463L), (653267L, 256203161L), (207013L, 786432397L),
    (517577L, 611953L))

  /** English-ish stopword sets for the language-ID heuristic. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "que", "de", "y", "un"),
    "fr" -> Seq("le", "la", "et", "les", "un", "une"))

  /** Token-set membership count: how many elements of token array `w`
    * are in `set` (duplicates counted — ratio of stopword TOKENS). */
  /** Spark spelling routes through the codegen [[StopHits]] expression
    * (registered as `stop_hits`): the builtin
    * `size(filter(w, t -> t IN (...)))` is an interpreted higher-order
    * function — one lambda dispatch per token per language. Same
    * semantics, pinned against the builtin spelling in ExpressionsSpec.
    * The word set travels as a space-joined string literal, so words
    * must be single tokens without spaces or quotes — enforced here
    * (silent corruption otherwise: 'new york' would split into two
    * independent words). */
  def stopHitsSpark(w: String, set: Seq[String]): String = {
    require(set.nonEmpty, "stop_hits needs a non-empty word set")
    set.foreach(s => require(
      s.nonEmpty && !s.exists(c => c == ' ' || c == '\'' || c == '\\'),
      s"stop_hits word '$s' must be a single unquoted token"))
    s"stop_hits($w, '${set.mkString(" ")}')"
  }

  /** The portable builtin spelling, kept as the spec the codegen
    * expression is pinned against in tests. */
  def stopHitsSparkBuiltin(w: String, set: Seq[String]): String =
    s"size(filter($w, t -> t IN (${set.map(s => s"'$s'").mkString(", ")})))"

  def stopHitsDuck(w: String, set: Seq[String]): String =
    s"length(list_filter($w, t -> t IN (${set.map(s => s"'$s'").mkString(", ")})))"

  /** BPE-ish tokenizer regex: letter runs, digit runs, single
    * punctuation marks — the shape (not the vocab) of a byte-pair
    * pretokenizer. Two spellings of the SAME pattern: Spark SQL string
    * literals process backslash escapes ('\s' collapses to 's'), DuckDB
    * literals do not — so the Spark SQL text needs the backslash
    * doubled. */
  val bpeTokenPatternSpark: String = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]"
  val bpeTokenPatternDuck: String = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** The fixed subword vocabulary for t10's greedy longest-match
    * tokenizer ([[graft.functions.SubwordCount]]): the classic
    * high-frequency English merges a small BPE vocabulary learns
    * first, lengths 2–4, lowercase ASCII letters only (the kernel's
    * packed-int matcher and the DuckDB twin's literal list both
    * restate THIS sequence — one definition). Single characters are
    * the implicit fallback (one token each), so the vocabulary needs
    * no length-1 entries. */
  val subwordVocab: Seq[String] = Seq(
    "tion",
    "the", "ing", "ent", "ion", "and", "ers", "est", "ati",
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd",
    "ti", "es", "or", "te", "ed", "st", "ar", "al", "to", "it",
    "is", "of", "as")

  /** The same vocabulary as a DuckDB list literal. */
  val subwordVocabDuck: String =
    subwordVocab.map(v => s"'$v'").mkString("[", ", ", "]")
}
