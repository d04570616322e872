package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Byte-pair frequency mining — the first step of BPE tokenizer
  * induction (Sennrich et al. 2016, arXiv:1508.07909): count adjacent
  * symbol pairs inside words across the corpus; the most frequent pair
  * is the next merge. Full BPE training iterates merge-and-recount —
  * inherently sequential — but the PAIR TABLE is the distributed
  * heavy lift (one pass over every character of the corpus), and its
  * top ranks are what tokenizer-vocabulary audits (X100 coverage, t03
  * token counting) consume: "which merges WOULD this corpus learn
  * first", per corpus, per source, per snapshot.
  *
  * Word-internal pairs only (the standard word-boundary convention):
  * tokens lowercase-split first, then each length-≥2 token contributes
  * its adjacent character pairs. The top-k cut is pinned deterministic
  * by (count DESC, pair ASC) — the X100 boundary-tie convention.
  *
  * Scale: one tokenize + character-pair Generate pass (map-side), one
  * grouped count (map-side combined — the shuffle carries (pair,
  * count) cells, bounded by the character-bigram alphabet, not the
  * corpus), one WindowGroupLimit-style top-k over the tiny pair table.
  */
object Bpe {

  /** Top-k adjacent character pairs: (rank, pair, cnt), rank 1 = the
    * pair BPE would merge first. Pairs below `minCount` are dropped
    * before ranking.
    */
  def topPairs(df: DataFrame, textCol: String, k: Int,
      minCount: Long = 1L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = df
      .select(explode(tokens(lower(col(textCol)))).as("tok"))
      .filter(length(col("tok")) >= 2)
    val pairs = toks
      .select(explode(expr(
        "transform(sequence(1, length(tok) - 1), " +
          "i -> substring(tok, i, 2))")).as("pair"))
    val counts = pairs.groupBy("pair")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    counts
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("pair").asc)).cast("long"))
      .filter(col("rank") <= k)
      .select(col("rank"), col("pair"), col("cnt"))
  }

  /** Budgeted BPE merge LOOP — the actual tokenizer-induction operator
    * (topPairs mines only round 1): `merges` rounds of count adjacent
    * symbol pairs → pick the winner (cnt DESC, "a b" ASC — the X100
    * boundary-tie convention on the space-joined pair, identical in any
    * engine because symbols are whitespace-free) → apply the merge to
    * every token. Returns the merge table (round, sym_a, sym_b, cnt),
    * fewer rows if the corpus runs out of pairs.
    *
    * The corpus rides between rounds as the WEIGHTED WORD-FREQUENCY
    * VOCABULARY — one space-joined symbol string per DISTINCT word plus
    * its occurrence count (lossless: symbols never contain whitespace;
    * the classic BPE-trainer representation) — so every round runs at
    * vocabulary size, not corpus size. Each round is one pair-explode +
    * weighted count (map-side combined — the shuffle carries (pair,
    * count) cells bounded by the live pair vocabulary) and a 1-row
    * winner hop to the driver (the k-means model-bounded convention).
    * The merge applies as an
    * aggregate() fold — codegen'd, no UDF: on (last symbol = a, next =
    * b) append b WITHOUT a separator, which reproduces BPE's greedy
    * left-to-right non-overlapping pass because a freshly merged symbol
    * a||b can never equal a again; the boundary check is exact (either
    * the accumulator IS a, or it ends with ' '||a — symbols cannot
    * contain the space). Round state is cut and rolled forward within
    * one `Lineage` scope.
    */
  def mergeLoop(df: DataFrame, textCol: String, merges: Int): DataFrame =
    mergeTable(df, textCol, merges, CharAtoms)

  /** BYTE-level merge loop — the production tokenizer-trainer form
    * (GPT-2 lineage: Radford et al. 2019 train BPE over raw bytes so any
    * UTF-8 string tokenizes with no OOV): each whitespace token atomizes
    * to its UTF-8 bytes, one 2-char lowercase-hex symbol per byte, plus
    * a '.' END-OF-WORD marker symbol — so merges can learn word-final
    * units ("ing" + end-of-word) distinctly from word-internal ones,
    * the Sennrich boundary convention at byte granularity. Case is
    * PRESERVED (byte-level trainers never casefold) and every token
    * participates (a 1-char word still carries byte + marker — two
    * symbols, one pair). Symbols stay whitespace-free by construction
    * (hex chars and '.'), so the weighted vocabulary, winner hop, and
    * greedy fold are exactly `mergeLoop`'s; only atomization differs.
    * Merged symbols concatenate hex units, so a word's encoded symbols
    * recover its bytes unambiguously: strip each symbol's optional
    * trailing '.', parse the 2-char units, concatenate across symbols,
    * UTF-8 decode once (`decodeByteSymbols` — per-symbol decode is only
    * codepoint-safe when no UTF-8 sequence straddles a symbol boundary).
    */
  def byteMergeLoop(df: DataFrame, textCol: String, merges: Int)
      : DataFrame =
    mergeTable(df, textCol, merges, ByteAtoms)

  private def mergeTable(df: DataFrame, textCol: String, merges: Int,
      atoms: Atomizer): DataFrame = {
    val spark = df.sparkSession
    val results = graft.core.Lineage.scoped(
      runMerges(_, df, textCol, merges, atoms)._1)
    import spark.implicits._
    results.toDF("round", "sym_a", "sym_b", "cnt").orderBy("round")
  }

  /** Tokenize the corpus WITH the merge table (self-encode: the merges
    * learned on this corpus by `merges` loop rounds) and census the
    * resulting symbol vocabulary: (rank, token, cnt) for the top `k`
    * tokens by (cnt DESC, token ASC) — the "what does the corpus look
    * like through this tokenizer" readout, the encode half of the
    * induction t52 pins. For encoding NEW data with a stored merge
    * table, see `applyMerges`.
    */
  def encodeTopTokens(df: DataFrame, textCol: String, merges: Int,
      k: Int): DataFrame =
    encodeCensus(df, textCol, merges, k, CharAtoms)

  /** Byte-level twin of `encodeTopTokens`: census the corpus through its
    * own byte-level merges (symbols are hex-byte strings, the last one
    * per word carrying the '.' end-of-word marker).
    */
  def encodeTopTokensBytes(df: DataFrame, textCol: String, merges: Int,
      k: Int): DataFrame =
    encodeCensus(df, textCol, merges, k, ByteAtoms)

  private def encodeCensus(df: DataFrame, textCol: String, merges: Int,
      k: Int, atoms: Atomizer): DataFrame = {
    // k bounds the driver-side collect below — cap it at a generous
    // tokenizer-vocabulary ceiling (GPT-2 ships 50257) so the census can
    // never silently become a corpus-sized driver materialization
    require(k >= 1 && k <= 65536, s"k must be in [1, 65536], got $k")
    val spark = df.sparkSession
    // The census is ≤ k rows (model-bounded) — collect it and hand back a
    // local frame, so every cluster-side cache is released HERE and the
    // caller owns nothing.
    val rows = graft.core.Lineage.scoped { scope =>
      val (_, vocab) = runMerges(scope, df, textCol, merges, atoms)
      vocab // (sym, wcnt) weighted vocabulary
        .select(explode(split(col("sym"), " ")).as("token"), col("wcnt"))
        .groupBy("token").agg(sum("wcnt").as("cnt"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("token").asc)).cast("long"))
        .filter(col("rank") <= k)
        .select(col("rank"), col("token"), col("cnt"))
        .collect()
    }
    import spark.implicits._
    rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq.toDF("rank", "token", "cnt")
  }

  /** Apply a STORED merge table to new data — the serving half of BPE
    * (learn once with mergeLoop, encode every new batch with its output):
    * each (a, b) merge applies as one full greedy fold, in table order,
    * to the WORD in `tokenCol` (one whitespace-free token per row — the
    * word-boundary convention; explode `tokens(lower(text))` upstream).
    * Returns the frame with an `encoded` array column of BPE symbols.
    * Pure lazy column expressions — no jobs, no state, safe to fuse into
    * any downstream plan.
    */
  def applyMerges(df: DataFrame, tokenCol: String,
      merges: Seq[(String, String)]): DataFrame =
    applyMergeTable(df, CharAtoms.sym(col(tokenCol)), merges)

  /** Byte-level serving twin of `applyMerges`: atomize the word in
    * `tokenCol` to hex-byte symbols + the '.' end-of-word marker, then
    * fold a STORED byte-level merge table (from `byteMergeLoop`) in
    * table order. `encoded` is the array of byte-BPE symbols; a word's
    * symbol array decodes via `decodeByteSymbols` — concatenate the
    * bytes ACROSS symbols, then UTF-8-decode once — and round-trips the
    * original word exactly (BpeSpec pins it, including the case where a
    * merge splits one character's bytes across two symbols). Per-symbol
    * decode is NOT round-trip-safe: merges are byte-greedy and freely
    * leave a multi-byte UTF-8 sequence straddling a symbol boundary.
    */
  def applyMergesBytes(df: DataFrame, tokenCol: String,
      merges: Seq[(String, String)]): DataFrame =
    applyMergeTable(df, ByteAtoms.sym(col(tokenCol)), merges)

  private def applyMergeTable(df: DataFrame,
      sym0: org.apache.spark.sql.Column,
      merges: Seq[(String, String)]): DataFrame = {
    val start = df.withColumn("__sym", sym0)
    val folded = merges.foldLeft(start) { case (d, (a, b)) =>
      d.withColumn("__sym", mergeFold(col("__sym"), a, b))
    }
    folded.withColumn("encoded", split(col("__sym"), " ")).drop("__sym")
  }

  /** Decode a WORD's byte-BPE symbol array (driver/test-side) — the
    * GPT-2-standard decode: strip each symbol's optional trailing
    * end-of-word marker, concatenate the parsed bytes across ALL
    * symbols, then UTF-8-decode ONCE. This is the only round-trip-safe
    * decode — merges split words on byte boundaries, not codepoint
    * boundaries, so a multi-byte character's bytes may land in
    * different symbols.
    */
  def decodeByteSymbols(syms: Seq[String]): String = {
    val bytes = syms.iterator.flatMap(symbolBytes).toArray
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Decode ONE byte-BPE symbol in isolation: strip the optional
    * trailing end-of-word marker, parse the 2-char hex units back to
    * bytes, UTF-8 decode. ONLY codepoint-safe when the symbol's bytes
    * happen to align to whole UTF-8 sequences (always true for ASCII,
    * never guaranteed otherwise — a lone continuation byte decodes to
    * U+FFFD). For word reconstruction use `decodeByteSymbols`, which
    * concatenates bytes across symbols before decoding.
    */
  def decodeByteSymbol(sym: String): String =
    new String(symbolBytes(sym),
      java.nio.charset.StandardCharsets.UTF_8)

  /** Hex-parse one symbol's bytes, marker stripped. */
  private def symbolBytes(sym: String): Array[Byte] = {
    val hexPart = if (sym.endsWith(".")) sym.dropRight(1) else sym
    require(hexPart.length % 2 == 0 &&
        hexPart.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')),
      s"not a byte-BPE symbol: '$sym'")
    hexPart.grouped(2)
      .map(h => java.lang.Integer.parseInt(h, 16).toByte).toArray
  }

  /** One greedy left-to-right merge pass of (a, b) over a space-joined
    * symbol string. Fold only the tokens that CONTAIN the pair as
    * adjacent symbols — space-padding makes the containment test exact
    * on symbol boundaries, and it is precisely the fold's merge
    * condition, so untouched rows pass through by identity (most of the
    * corpus, increasingly so in later rounds).
    */
  private def mergeFold(sym: org.apache.spark.sql.Column, a: String,
      b: String): org.apache.spark.sql.Column = {
    val hasPair = concat(lit(" "), sym, lit(" ")).contains(s" $a $b ")
    when(hasPair, aggregate(split(sym, " "), lit(""),
      (acc, s) =>
        when(s === lit(b) && (acc === lit(a) || acc.endsWith(lit(" " + a))),
          concat(acc, s))
          .when(acc === lit(""), s)
          .otherwise(concat(acc, lit(" "), s))))
      .otherwise(sym)
  }

  /** How a whitespace token becomes the round-0 space-joined symbol
    * string. Char-level (the Sennrich research form, t52/t53): casefold,
    * one symbol per character, words shorter than 2 chars carry no pair
    * and are skipped. Byte-level (the GPT-2 production form, t54): case
    * preserved, one 2-char hex symbol per UTF-8 byte plus the '.'
    * end-of-word marker — every token has ≥ 2 symbols, so none skip.
    */
  private final case class Atomizer(lowercase: Boolean, minTokLen: Int,
      sym: org.apache.spark.sql.Column => org.apache.spark.sql.Column)

  private val CharAtoms = Atomizer(lowercase = true, minTokLen = 2,
    sym = tok => array_join(split(tok, ""), " "))

  private val ByteAtoms = Atomizer(lowercase = false, minTokLen = 1,
    sym = tok => concat(
      regexp_replace(lower(hex(encode(tok, "UTF-8"))), "(..)", "$1 "),
      lit(".")))

  /** Shared merge-loop core over the WEIGHTED WORD-FREQUENCY VOCABULARY —
    * the classic BPE-trainer representation (Sennrich et al. work a word
    * frequency dict, never the raw corpus): natural text repeats words
    * heavily, so one up-front groupBy collapses the occurrence stream to
    * (sym, wcnt) distinct-word rows, and every later pass — pair counts
    * (Σ wcnt per adjacent pair), fold rewrites, the encode census — runs
    * at vocabulary size, orders of magnitude below corpus size. Counts
    * are identical to occurrence-level counting by construction.
    *
    * Returns the merge table rows and the final (sym, wcnt) vocabulary
    * (lazy past the last winner collect), a cut recorded in `scope`.
    */
  private def runMerges(scope: graft.core.Lineage.Scope, df: DataFrame,
      textCol: String, merges: Int, atoms: Atomizer)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    val results =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    val text =
      if (atoms.lowercase) lower(col(textCol)) else col(textCol)
    // Round state is lineage-CUT, not just persisted (r19, Lineage):
    // each round's mergeFold is a large expression tree, so with persists
    // alone round r's plan nested r folds plus the corpus tokenize —
    // analysis + codegen per round grew with r (GateProfile r19: 1.6 s of
    // the t52 gate's wall was driver/plan gaps). With the cut every
    // round plans one fold over a vocabulary-sized leaf. Rounds release
    // `prev` after the winner collect materializes `cur`; the scope
    // releases the rest.
    var cur = scope.cut(df
      .select(explode(tokens(text)).as("tok"))
      .filter(length(col("tok")) >= atoms.minTokLen)
      .groupBy(atoms.sym(col("tok")).as("sym"))
      .agg(count(lit(1)).as("wcnt")), eager = false)
    // The winner collect consumes ALL of `cur`, so it doubles as the
    // round's materialization point — no extra eager count pass per round;
    // the previous round's cache is released only after the collect has
    // filled the current one.
    var prev: Option[DataFrame] = None
    var done = false
    for (r <- 1 to merges if !done) {
      val top = cur
        .select(split(col("sym"), " ").as("a"), col("wcnt"))
        .filter(size(col("a")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(a) - 1), " +
            "i -> struct(element_at(a, i) AS sa, " +
            "element_at(a, i + 1) AS sb))")).as("p"), col("wcnt"))
        .groupBy(col("p.sa").as("sa"), col("p.sb").as("sb"))
        .agg(sum("wcnt").as("cnt"))
        .orderBy(col("cnt").desc,
          concat_ws(" ", col("sa"), col("sb")).asc)
        .limit(1).collect()
      prev.foreach(scope.release)
      prev = None
      if (top.isEmpty) done = true
      else {
        val (a, b, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        results += ((r.toLong, a, b, cnt))
        // two distinct pre-merge words can rewrite to the same symbol
        // string; re-aggregating keeps the vocabulary canonical
        val next = scope.cut(cur
          .groupBy(mergeFold(col("sym"), a, b).as("sym"))
          .agg(sum("wcnt").as("wcnt")), eager = false)
        prev = Some(cur)
        cur = next
      }
    }
    (results.toSeq, cur)
  }
}
